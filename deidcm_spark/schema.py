"""Fixed nested schema for the interleaved text+media document table.

The reference flattens every DICOM element of a file into one dynamically
named pandas column (``deidcm/dicom/dicom2df.py:93-122``); the entire element
schema is serialized into the column NAME
(``{Keyword}_{0xGGGGEEEE}_{VR}_{VM}_{dWidth}_{uLen}_{mBytes}_{sVR}``, nested
sequences as ``Parent..._SQ_...@{i}.Child...``).  That is hostile to a
columnar engine: the column set is per-corpus and unbounded.

Here the same information rides a FIXED schema — one row per document, the
elements as an ordered span array.  A text span's ``text`` field is
``"<attr_key>=<encoded_value>"`` where ``attr_key`` is the reference's
column-name encoding verbatim, so fixtures line up byte-for-byte; a media
span carries a pointer into a payload table instead of inline pixels.
"""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

SPAN_SCHEMA = ArrayType(SPAN_STRUCT, False)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPAN_SCHEMA, False),
    ]
)

# Synthetic media payloads (analogue of DICOM PixelData, stored out-of-row so
# shuffles stay slim — SURVEY.md §7 risk register: media rides media_ref
# pointers, not inline bytes).
MEDIA_PAYLOADS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("channels", IntegerType(), False),
        StructField("bits", IntegerType(), False),
        StructField("pixels", BinaryType(), False),
    ]
)

# Ground-truth OCR boxes embedded by the corpus synthesizer and consumed by
# the deterministic OCR stub (contract mirrors easyOCR's
# ``(4-corner box, text, confidence)`` output, deid_mammogram.py:169-174).
OCR_BOXES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("box_idx", IntegerType(), False),
        StructField("x1", IntegerType(), False),
        StructField("y1", IntegerType(), False),
        StructField("x2", IntegerType(), False),
        StructField("y2", IntegerType(), False),
        StructField("word", StringType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

RECIPE_SCHEMA = StructType(
    [
        StructField("tag", StringType(), False),
        StructField("keyword", StringType(), True),
        StructField("vr", StringType(), True),
        StructField("action", StringType(), False),
    ]
)

SPECIFIC_RULES_SCHEMA = StructType(
    [
        StructField("child_tag", StringType(), False),
        StructField("seq_tag", StringType(), False),
        StructField("rule", StringType(), False),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("n_spans_in", IntegerType(), False),
        StructField("n_spans_out", IntegerType(), False),
        StructField("n_removed", IntegerType(), False),
        StructField("n_erased", IntegerType(), False),
        StructField("n_pseudonymized", IntegerType(), False),
        StructField("n_kept", IntegerType(), False),
        StructField("status", StringType(), False),
    ]
)

EXTRACT_LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("n_spans_out", IntegerType(), False),
        StructField("n_text_spans", IntegerType(), False),
        StructField("n_media_spans", IntegerType(), False),
        StructField("status", StringType(), False),
    ]
)


def local_frame(spark, rows, schema):
    """A small driver-side table as a DataFrame that plans as a LocalRelation.

    ``rows`` are tuples (``Row`` included) in field order; ``schema`` is a
    StructType or a DDL string.  The rows become a ``pyarrow.Table`` that
    ``createDataFrame`` ships to the JVM as Arrow — no Python worker runs.
    ``createDataFrame(<list>)`` instead pickles the rows through a
    PipelinedRDD and forks Python worker tasks to decode them: ~0.37 s per
    call against ~0.04 s here.  Every list-built frame on a job path goes
    through this helper (tests/test_local_frames.py guards it).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_parquet_or_none(spark, path: str):
    """The parquet table at ``path``, or None when nothing exists there.

    For append-only logs that a first run has not written yet (the lineage
    log, streaming's Bloom and LSH logs).  ONLY a missing path means "no
    log": a log that exists but cannot be read (corrupt, schema-less,
    unreadable) raises, because treating it as empty would silently
    re-admit everything it records.  The path is checked with Hadoop's
    ``FileSystem.exists`` (~7 ms warm, local[4]) instead of failing a
    read, which cost 0.08-0.09 s warm, ~0.14 s on a session's first call
    and a ``FileNotFoundException`` stack trace logged at WARN."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return None
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# shared media-fixture constants — single source of truth (corpus synthesis,
# the SQL box corpus in duck_oracle, and the redaction operators all key off
# these; divergent copies would silently break gate/clamp parity)
# ---------------------------------------------------------------------------

MEDIA_W = MEDIA_H = 96
BOX_WORDS = ["JTRX4", "DSLC72", "PATIENT", "X", "HELLO", "SHOCR", "NAME22"]
