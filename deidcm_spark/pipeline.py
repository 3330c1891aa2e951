"""Top-level composed pipelines — scrub → extract and the curation flow as
one call each — and where the structured lane runs.

**Free-text lane** (web-style interleaved content):

    raw documents (doc_id, text, lang, source)
      → free-text PHI scrub   (scrub.py: date/time/email/name regex chain +
                               consistent salted-hash UID remap)
      → main-content extraction (extract.py: DOM heuristics → interleaved
                               text+media spans)

    The scrub IS the de-identification for free text; the recipe lane
    below is for attribute-encoded spans only (a free-text span has no
    DICOM tag path, so the zero-trust recipe would RETIRER it —
    deliberately: unclassifiable content must not leak).

**Structured lane** (attribute-encoded spans, the reference's pipeline):

    raw documents → ingest.documents_to_spans (recipe-tagged span form)
      → lineage.run_deid_job (salted bucket repartition, unless the input
        carries a stored ``bucket`` column → recipe de-identification,
        deidentify.py's Arrow kernel → bucket commit)

scrub_extract is a narrow chain with no shuffle.  Resumable lanes:
lineage.run_extract_job / run_deid_job; incremental: streaming.*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from deidcm_spark.operators import extract, scrub


def scrub_extract(
    raw_documents: DataFrame,
    org_root: str,
    names: list[str] | None = None,
) -> DataFrame:
    """(doc_id, text, lang, source) → PHI-scrubbed main-content spans."""
    scrubbed = scrub.scrub_documents(raw_documents, org_root, names)
    return extract.extract_main_content(extract.with_html(scrubbed))


def curate(
    spark,
    docs: DataFrame,
    out_dir: str,
    seq_len: int = 2048,
    gate_overrides: dict | None = None,
    min_line_chars: int = 1,
    nfc: bool = False,
    hash_impl: str = "fast",
    pii: bool = False,
    classifier_positive: DataFrame | None = None,
    classifier_alpha: float = 9.0,
) -> dict:
    """The full training-data curation flow as ONE job — the pipeline a
    100 TB pretraining corpus actually runs, each stage an operator this
    engine already oracles individually:

        raw (doc_id, text)
          → normalize_text      (codegen hygiene; typographic variants
                                 collapse to one dedup fingerprint)
          → scrub_pii           (optional, ``pii=True``: Luhn cards,
                                 phones, IPv4 — zero-shuffle Arrow pass
                                 fused into the normalize write)
          → quality_gate        (Gopher/C4 rule cascade, keep == no
                                 violated rule)
          → classifier gate     (optional, ``classifier_positive=``:
                                 GPT-3 NB + Pareto acceptance over the
                                 gate survivors; raw-as-negative)
          → line_dedup          (corpus-duplicated boilerplate lines out,
                                 documents rebuilt)
          → exact dedup         (NORM_FP winners, smallest doc_id kept)
          → pack_sequences      (fixed seq_len pieces, the loader layout)

    Every stage MATERIALIZES to ``<out_dir>/<stage>`` and the next stage
    reads the parquet back — deliberate at scale: a stage barrier caps
    recomputation on failure, makes each intermediate inspectable /
    resumable, and keeps any one job's lineage shallow (the same reason
    lineage.run_deid_job commits per bucket).  Returns the stage-by-stage
    document accounting (the drop-mass ledger a dataset card needs).

    Each barrier costs exactly one Spark job: the ledger is observed on
    the stage writes themselves (a ``pyspark.sql.Observation`` per write —
    row counts, the deduped doc_id range that sizes the packing blocks,
    and ``max(seq_id) + 1`` for the dense sequence ids), never counted
    from the read-back; each read-back passes the schema it already knows
    (no inference job); and the gate keeps rows with
    :func:`textops.quality_gate_survivors` (one tokenizer pass, no
    self-join).  Besides the stage writes the only action is the
    block-totals collect of the packing prefix sum.
    """
    from pyspark.sql import functions as F

    from deidcm_spark.operators import dedup, spandedup, textops

    if seq_len < 1:  # before the first stage write, not at the pack stage
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    n_rows = F.count(F.lit(1))
    base = docs.select("doc_id", "text")

    norm = textops.normalize_text(base, nfc=nfc)
    if pii:
        from deidcm_spark.operators.scrub import scrub_pii

        norm = scrub_pii(norm)  # row-local: fuses into the same write
    norm, seen = write_stage(spark, norm, f"{out_dir}/normalized", n=n_rows)
    n_in = seen["n"]

    kept = textops.quality_gate_survivors(norm, overrides=gate_overrides)
    kept, seen = write_stage(spark, kept, f"{out_dir}/gated", n=n_rows)
    n_gated = seen["n"]

    n_classified = None
    if classifier_positive is not None:
        from deidcm_spark.operators.classify import quality_classifier_select

        chosen = quality_classifier_select(
            kept, classifier_positive.select("doc_id", "text"), norm,
            alpha=classifier_alpha, hash_impl=hash_impl,
        ).select("doc_id")
        kept = kept.join(chosen, "doc_id", "left_semi")
        kept, seen = write_stage(
            spark, kept, f"{out_dir}/classified", n=n_rows
        )
        n_classified = seen["n"]

    ld = spandedup.line_dedup(
        kept, min_line_chars=min_line_chars, hash_impl=hash_impl
    ).select("doc_id", "text")
    ld, _ = write_stage(spark, ld, f"{out_dir}/line_deduped")

    winners = dedup.dedup_exact(ld).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    final = ld.join(winners, "doc_id", "left_semi")
    final, seen = write_stage(
        spark, final, f"{out_dir}/deduped",
        n=n_rows, lo=F.min("doc_id"), hi=F.max("doc_id"),
    )
    n_final = seen["n"]

    block_size = textops.pack_block_size(
        seen["lo"], seen["hi"], textops.MAX_PACK_BLOCKS
    )
    packed = textops.pack_sequences(
        final, seq_len=seq_len, block_size=block_size
    )
    # the packed stream is contiguous from token 0, so seq ids are dense
    # from 0: the sequence count is max(seq_id) + 1 (0 without pieces)
    _, seen = write_stage(
        spark, packed, f"{out_dir}/sequences",
        n=F.coalesce(F.max("seq_id") + 1, F.lit(0)),
    )
    n_seq = int(seen["n"])

    out = {
        "docs_in": n_in,
        "docs_after_gate": n_gated,
        "docs_after_dedup": n_final,
        "sequences": n_seq,
        "seq_len": seq_len,
    }
    if n_classified is not None:
        out["docs_after_classifier"] = n_classified
    return out


def write_stage(
    spark, df: DataFrame, path: str, **observe
) -> tuple[DataFrame, dict]:
    """Write ``df`` to ``path`` as parquet in ONE Spark job and read it
    back.  ``observe`` maps names to aggregate Columns evaluated on the
    rows as the write job passes them (``Observation``: no extra pass);
    their values come back as a dict.  The read-back is given ``df``'s
    schema, so it runs no schema-inference job."""
    from pyspark.sql import Observation

    if observe:
        obs = Observation()
        df = df.observe(obs, *(c.alias(k) for k, c in observe.items()))
    df.write.mode("overwrite").parquet(path)
    back = spark.read.schema(df.schema).parquet(path)
    return back, obs.get if observe else {}
