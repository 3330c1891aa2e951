"""Checkpointed, resumable de-identification job with per-partition lineage.

The reference has NO resume story: a rerun wipes the output directory and
starts over (``deidcm/dicom/deid_mammogram.py:294-296``).  At 10^12 documents
a job WILL lose executors/the driver mid-run, so the engine processes the
corpus in ``n_buckets`` salted hash buckets (``pmod(xxhash64(doc_id, salt),
n_buckets)``) and records one lineage row per committed bucket.

Commit protocol (Iceberg-snapshot emulation over plain parquet — this
sandbox has no Iceberg runtime jar; with Iceberg the output append and the
lineage append would ride one transaction, see SURVEY.md §4):

1. output rows are written ``partitionBy(bucket)`` with DYNAMIC partition
   overwrite — rewriting a bucket is idempotent, so a crash between steps 1
   and 2 leaves an orphan bucket directory that the resume simply rewrites;
2. a lineage row (bucket, doc/span/action counters, status=committed) is
   appended only after the bucket's data is on disk.

Resume = anti-join of the bucket domain against committed lineage: only
missing buckets are recomputed.

Both jobs (:func:`run_deid_job`, :func:`run_extract_job`) run this protocol
through :func:`_commit_buckets` and supply only their kernel and its
per-batch tally.  The bucket counters come from the write job itself: the
kernel carries ``bucket`` through, each output batch is tallied per bucket
in the worker and the tallies are summed on the driver through an
accumulator.  Step 1 is therefore ONE data-writing Spark action, and step 2
appends a driver-local table — nothing under ``data/`` is read back,
nothing is recomputed.  The counters are exactly-once because the kernel
runs in the write job's result stage.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.accumulators import AccumulatorParam, _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession, functions as F

from deidcm_spark.operators.deidentify import deidentify_attributes
from deidcm_spark.schema import (
    EXTRACT_LINEAGE_SCHEMA,
    LINEAGE_SCHEMA,
    local_frame,
    read_parquet_or_none,
)

# per-bucket counters of a deid lineage row, in LINEAGE_SCHEMA order
COUNTERS = ("n_docs", "n_spans_in", "n_spans_out", "n_removed", "n_erased",
            "n_pseudonymized", "n_kept")


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _committed_rows(spark: SparkSession, out_dir: str, run_id: str) -> list[tuple]:
    """``(bucket, n_docs)`` of EVERY committed lineage row of ``run_id``,
    duplicates included (one row per bucket per committing attempt)."""
    lineage = read_parquet_or_none(spark, _lineage_path(out_dir))
    if lineage is None:
        return []
    return [
        (r["bucket"], r["n_docs"])
        for r in lineage.filter(
            (F.col("run_id") == run_id) & (F.col("status") == "committed")
        ).select("bucket", "n_docs").collect()
    ]


def committed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    return {b for b, _ in _committed_rows(spark, out_dir, run_id)}


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_parquet_or_none(spark, _lineage_path(out_dir))


class _CounterSums(AccumulatorParam):
    """Accumulator of ``{bucket: [counter, ...]}`` (the lineage schema's
    counter order), merged by element-wise sum."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for bucket, counts in other.items():
            prev = acc.get(bucket)
            acc[bucket] = counts if prev is None else [a + b for a, b in zip(prev, counts)]
        return acc


def _bucket_counts(batch) -> dict:
    """COUNTERS of one deid kernel output batch, per bucket.  n_spans_in
    counts the input's TEXT spans (one action each); n_spans_out counts
    every output span, media and marker included."""
    rm, er, ps, kp = (batch.column(c) for c in COUNTERS[3:])
    table = pa.table({
        "bucket": batch.column("bucket"),
        "n_spans_in": pc.add(pc.add(rm, er), pc.add(ps, kp)),
        "n_spans_out": pc.list_value_length(batch.column("spans")),
        "n_removed": rm, "n_erased": er, "n_pseudonymized": ps, "n_kept": kp,
    })
    sums = table.group_by("bucket").aggregate(
        [("bucket", "count")] + [(c, "sum") for c in COUNTERS[1:]]
    ).to_pydict()
    return {
        b: list(counts)
        for b, *counts in zip(
            sums["bucket"], sums["bucket_count"],
            *(sums[f"{c}_sum"] for c in COUNTERS[1:]),
        )
    }


def _extract_counts(pdf) -> dict:
    """EXTRACT_LINEAGE_SCHEMA counters (n_docs, n_spans_out, n_text_spans,
    n_media_spans) of one extractor output batch (pandas), per bucket."""
    acc: dict = {}
    for bucket, spans in zip(pdf["bucket"], pdf["spans"]):
        kinds = [s["kind"] for s in spans]
        doc = [1, len(kinds), kinds.count("text"), kinds.count("media")]
        _CounterSums().addInPlace(acc, {int(bucket): doc})
    return acc


def bucket_expr(salt: str, n_buckets: int):
    """THE bucket function — shared by the job, the pre-bucketing writer,
    and the resume check: ``pmod(xxhash64(doc_id, salt), n_buckets)``."""
    return F.pmod(F.xxhash64("doc_id", F.lit(salt)), F.lit(n_buckets)).cast("int")


def prepare_bucketed_corpus(
    documents: DataFrame,
    table: str,
    salt: str = "deidcm_spark",
    n_buckets: int = 32,
) -> None:
    """One-time ingest shuffle: persist the corpus bucketed on the SAME
    salted bucket function the deid job partitions by (the sandbox stand-in
    for an Iceberg ``bucket(N, key)`` partition spec).  Every subsequent
    ``run_deid_job(..., input_bucketed=True)`` — including every resume
    attempt — then runs a ZERO-exchange plan: scan → mapInArrow → sink,
    the span payload never crosses a shuffle again."""
    from deidcm_spark.sources import write_bucketed

    with_bucket = documents.withColumn("bucket", bucket_expr(salt, n_buckets))
    write_bucketed(with_bucket, table, "bucket", n_buckets)


def prepare_bucketed_raw_corpus(
    raw_documents: DataFrame,
    table: str,
    salt: str = "deidcm_spark",
    n_buckets: int = 32,
) -> None:
    """Extraction-lane analogue of :func:`prepare_bucketed_corpus`: cluster
    the RAW (doc_id, text, lang, source) corpus on the extract job's bucket
    function.  doc_id is cast to string FIRST — the extractor's id domain —
    so the stored bucket matches what ``run_extract_job`` recomputes, and
    ``run_extract_job(..., input_bucketed=True)`` runs the zero-exchange
    plan: scan → html → mapInPandas → sink."""
    prepare_bucketed_corpus(
        raw_documents.withColumn("doc_id", F.col("doc_id").cast("string")),
        table, salt, n_buckets,
    )


def _commit_buckets(spark, bucketed, out_dir, run_id, n_buckets,
                    max_buckets_this_attempt, input_bucketed, kernel, tally,
                    schema) -> tuple[dict, int | None]:
    """One attempt of the bucket-commit protocol; returns the summary dict
    and, if this attempt committed the last pending bucket, the run's
    committed document total (else None).

    ``bucketed`` carries the job's ``bucket`` column.  ``kernel(todo,
    observe)`` turns the pending rows into the output frame, still carrying
    ``bucket``, and calls ``observe`` in the worker on every output batch;
    ``tally(batch)`` maps one such batch to ``{bucket: [counter, ...]}`` in
    the order of ``schema``'s counter columns (between ``bucket`` and
    ``status``).

    An attempt is one data-writing Spark action plus one single-file append
    of a driver-local lineage table.  The counters are summed through an
    accumulator — not read back from ``data/`` — and are exactly-once
    because the kernel runs in the write job's RESULT stage: Spark applies
    a result task's accumulator update only when it succeeds, and only once
    per partition (failed, retried and speculative duplicates are dropped).
    Pending buckets with no documents commit all-zero rows.

    The document total sums every committed row of the run — the rows read
    at attempt start plus this attempt's — without deduplicating buckets,
    so a bucket committed twice shows up as a surplus.
    """
    if n_buckets < 1:  # range(0) would leave nothing pending: a silent no-op
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    prior = _committed_rows(spark, out_dir, run_id)
    done = {b for b, _ in prior}
    pending = sorted(set(range(n_buckets)) - done)
    n_pending = len(pending)
    if max_buckets_this_attempt is not None:
        pending = pending[:max_buckets_this_attempt]
    summary = {"run_id": run_id, "committed_before": len(done), "processed": 0}
    if not pending:
        return summary, None

    todo = bucketed.filter(F.col("bucket").isin(pending))
    if not input_bucketed:
        # salted repartition happens here: one shuffle, partitioned by bucket
        # so the dynamic-overwrite write aligns with processing partitions.
        # No more partitions than cores: hashing N buckets into N partitions
        # leaves some empty, and an empty Python task still costs ~0.1 s
        n_parts = min(len(pending), spark.sparkContext.defaultParallelism)
        todo = todo.repartition(n_parts, "bucket")

    acc = spark.sparkContext.accumulator({}, _CounterSums())
    try:
        # exactly-once: the kernel (and with it every acc.add) runs in the
        # write job's result stage — after the bucket exchange, or straight
        # off the bucketed scan — where Spark applies each partition's
        # accumulator update once, from its one successful attempt.  Never
        # move the kernel into a shuffle-map stage: those tasks re-run on a
        # fetch failure and their updates would count twice.
        result = kernel(todo, lambda batch: acc.add(tally(batch)))
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(_data_path(out_dir))
        )
        counts = acc.value
    finally:
        # the driver registry keeps every accumulator ever made; this one is
        # done once its job has ended (later task results are not merged)
        _accumulatorRegistry.pop(acc.aid, None)

    # every pending bucket commits, an EMPTY one as zeros (otherwise a
    # doc-less bucket would be "pending" forever on resume)
    zeros = [0] * (len(schema.fields) - 3)
    rows = [(run_id, b, *counts.get(b, zeros), "committed") for b in pending]
    (
        local_frame(spark, rows, schema)
        .coalesce(1)
        .write.mode("append")
        .parquet(_lineage_path(out_dir))
    )
    summary["processed"] = len(pending)
    if len(pending) < n_pending:
        return summary, None
    # n_docs is the first counter of both lineage schemas
    return summary, sum(n for _, n in prior) + sum(r[2] for r in rows)


def run_deid_job(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    org_root: str,
    salt: str = "deidcm_spark",
    n_buckets: int = 32,
    run_id: str = "run0",
    max_buckets_this_attempt: int | None = None,
    date_mode: str = "first_day_year",
    date_offset: int = 100000,
    input_bucketed: bool = False,
) -> dict:
    """Process all not-yet-committed buckets; returns a summary dict.

    ``max_buckets_this_attempt`` exists for failure-injection tests: it
    commits only the first K pending buckets and stops, simulating a crash
    partway through the corpus.

    ``input_bucketed=True`` declares that ``documents`` is already stored
    clustered on this job's bucket function (written by
    :func:`prepare_bucketed_corpus` with the same salt/n_buckets): the
    repartition exchange — the single shuffle of the full span payload —
    is skipped, and the plan is scan → filter → mapInArrow → sink.  At
    32 local cores that shuffle is the measured kernel-time bottleneck
    (BENCH/BASELINE.md); on a real cluster it is the network-heavy stage.

    An attempt is one data-writing Spark action plus one single-file append
    of a driver-local lineage table (:func:`_commit_buckets`); the counters
    are tallied per bucket on the Arrow kernel's output batches.
    """
    if input_bucketed and "bucket" not in documents.columns:
        raise ValueError(
            "input_bucketed=True requires a stored 'bucket' column "
            "(prepare_bucketed_corpus writes one); refusing to silently "
            "run the unclustered plan"
        )
    bucketed = (
        documents if input_bucketed
        else documents.withColumn("bucket", bucket_expr(salt, n_buckets))
    )

    def kernel(todo: DataFrame, observe) -> DataFrame:
        if input_bucketed:
            # the stored bucket column must be THIS job's bucket function —
            # a different salt/n_buckets would silently mark out-of-range
            # buckets "complete" on resume.  Two-level defense: a cheap
            # 1k-row probe fails fast on a wholesale mismatch here, and
            # after the LAST bucket commits the lineage totals are
            # reconciled against the source count (below) — which catches
            # even a partially mis-bucketed corpus (e.g. two prepares
            # unioned) with one metadata-cheap count instead of a
            # full-corpus validation scan per attempt.
            probe = (
                documents.limit(1000)
                .withColumn("_b2", bucket_expr(salt, n_buckets))
                .filter(F.col("bucket") != F.col("_b2"))
                .count()
            )
            if probe:
                raise ValueError(
                    f"input_bucketed=True but the stored bucket column does not "
                    f"match pmod(xxhash64(doc_id, {salt!r}), {n_buckets}) — "
                    f"re-run prepare_bucketed_corpus with this job's salt/n_buckets"
                )
        return deidentify_attributes(
            todo, org_root, salt, with_metrics=True,
            date_mode=date_mode, date_offset=date_offset, observe=observe,
        )

    summary, committed_docs = _commit_buckets(
        spark, bucketed, out_dir, run_id, n_buckets, max_buckets_this_attempt,
        input_bucketed, kernel, _bucket_counts, LINEAGE_SCHEMA,
    )

    # completion reconciliation: once every bucket is committed, the
    # lineage doc total (known on the driver: earlier attempts' rows plus
    # this attempt's) must equal the source count (a metadata-cheap parquet
    # count) — catches rows whose stored bucket fell outside range(n_buckets)
    # and was therefore never selected by any attempt
    if input_bucketed and committed_docs is not None:
        src_docs = documents.count()
        if committed_docs != src_docs:
            raise ValueError(
                f"bucketed run committed {committed_docs} documents but the "
                f"source has {src_docs} — the stored bucket column does not "
                f"cover range({n_buckets}) for every row (mixed prepares?)"
            )
        summary["reconciled_docs"] = int(committed_docs)
    return summary


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_data_path(out_dir))


def run_extract_job(
    spark: SparkSession,
    raw_documents: DataFrame,
    out_dir: str,
    salt: str = "deidcm_spark",
    n_buckets: int = 32,
    run_id: str = "run0",
    max_buckets_this_attempt: int | None = None,
    input_bucketed: bool = False,
) -> dict:
    """Resumable main-content extraction (north_rule lane) under the same
    bucket-commit protocol as :func:`run_deid_job` (:func:`_commit_buckets`):
    one data write plus one single-file lineage append per attempt, with
    the EXTRACT_LINEAGE_SCHEMA counters tallied per bucket on the
    extractor's output batches.  ``raw_documents`` = (doc_id, text, lang,
    source).

    ``input_bucketed=True`` — same contract as ``run_deid_job``: the input
    is stored clustered on this job's bucket function (string-cast doc_id),
    so the repartition exchange is skipped.
    """
    from deidcm_spark.operators import extract

    # cast doc_id to string FIRST: the extractor emits string doc_ids, and
    # the bucket is hashed from that string.  A STORED bucket column is
    # never trusted here — it may have been hashed from the pre-cast value
    # (long doc_id).  Recomputing keeps the filtered and the written bucket
    # equal unconditionally; input_bucketed then only skips the repartition
    # (zero-exchange still holds when the corpus was prepared from
    # string-cast ids).
    bucketed = raw_documents.withColumn(
        "doc_id", F.col("doc_id").cast("string")
    ).withColumn("bucket", bucket_expr(salt, n_buckets))

    def kernel(todo: DataFrame, observe) -> DataFrame:
        html = todo.select(
            "doc_id", "bucket", F.expr(extract.html_expr("spark")).alias("html")
        )
        return extract.extract_main_content(html, observe=observe)

    summary, _ = _commit_buckets(
        spark, bucketed, out_dir, run_id, n_buckets, max_buckets_this_attempt,
        input_bucketed, kernel, _extract_counts, EXTRACT_LINEAGE_SCHEMA,
    )
    return summary
