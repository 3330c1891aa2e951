"""Structured Streaming facade over the de-identification pipeline.

The reference is pure batch (a directory walk); the north rule asks for
resumability, which lineage.py provides.  This module additionally exposes
the same stateless per-document stages under ``readStream`` so a continuous
corpus (documents landing in object storage / a queue) de-identifies
incrementally with exactly-once file-sink semantics:

    readStream(parquet dir) ─▶ foreachBatch(deidentify_attributes + append)

Every engine operator is per-document and stateless, so no watermarks or
state stores are needed; checkpointing rides Spark's streaming commit log
(complementing the bucket-level lineage of batch runs).

Exactly-once OUTPUT: ``foreachBatch`` alone is only at-least-once — a crash
after the parquet write but before the checkpoint commit replays the
micro-batch on restart.  The sinks here are made idempotent by partitioning
the output on ``batch_id`` and using DYNAMIC partition overwrite: a replayed
batch overwrites its own partition rather than appending a second copy, so
(at-least-once replay) + (idempotent write) = exactly-once table contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from deidcm_spark.operators.deidentify import deidentify_attributes
from deidcm_spark.schema import DOCUMENTS_SCHEMA, local_frame


def _idempotent_write(out: DataFrame, batch_id: int, out_dir: str) -> None:
    """Idempotent micro-batch sink: the epoch's rows land in partition
    ``batch_id=N``; dynamic overwrite replaces exactly that partition on
    replay (other epochs untouched), making foreachBatch exactly-once."""
    from pyspark.sql import functions as F

    (
        out.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _start(stream: DataFrame, process_batch, checkpoint_dir: str,
           available_now: bool, query_name: str | None = None):
    """Start ``stream`` through ``foreachBatch(process_batch)`` under
    ``checkpoint_dir``: ``available_now=True`` drains what is there and
    stops, ``False`` runs continuously."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_deidentify(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    org_root: str,
    salt: str = "deidcm_spark",
    available_now: bool = True,
):
    """Incrementally de-identify parquet documents as they land in ``in_dir``.

    ``available_now=True`` drains what's currently there and stops (used by
    tests and backfills); ``False`` runs continuously.
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(in_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = deidentify_attributes(batch_df, org_root, salt, with_metrics=True)
        _idempotent_write(out, batch_id, out_dir)

    return _start(stream, process_batch, checkpoint_dir, available_now)


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incrementally run the main-content extraction lane (north_rule) over
    raw documents landing in ``in_dir``: each micro-batch synthesizes the
    page, extracts interleaved main-content spans, and appends the span
    table — same stateless stages as the batch job, exactly-once via the
    streaming commit log."""
    from deidcm_spark.operators import extract

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", 16)
        .parquet(in_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = extract.extract_main_content(extract.with_html(batch_df))
        _idempotent_write(out, batch_id, out_dir)

    return _start(stream, process_batch, checkpoint_dir, available_now)


def sessionize_events(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
    queryName: str = "sessions",
):
    """Event-time sessionization: ``session_window`` groups a user's events
    separated by < ``gap`` into one session; the watermark closes sessions and
    bounds state.  Append mode — a session row emits once, when it can no
    longer grow.

    TAIL CONTRACT (standard watermark semantics, easy to miss): a session
    is emitted only once the watermark passes ``session_end + gap``.  When
    a drain stops (availableNow or query stop), every user's FINAL session
    — any session the last events belong to — is still open in state and
    is NOT in the output; it emits on the next run once newer events
    advance the watermark.  A one-shot backfill that must include the tail
    should either append a synthetic max-timestamp sentinel event per user
    or use the batch twin (``__spark_entry__.events_sessionize``), which
    has no watermark and emits everything."""
    from pyspark.sql import functions as F

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(in_dir)
    )
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_user_totals(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    queryName: str = "user_totals",
):
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total, updated every micro-batch.  The shape
    the engine would use for any bespoke accumulating state the built-in
    aggregations can't express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 3)]}
        )

    out = events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental exact dedup across micro-batches: a custom stateful
    operator (``applyInPandasWithState`` keyed on the normalized-text
    fingerprint) emits each fingerprint ONCE — on first arrival — with the
    arriving doc_id as the keeper; later duplicates (same batch or any
    later batch) emit nothing.  State per key is one boolean — bounded by
    the distinct-document count, the streaming analogue of
    ``dedup.dedup_exact`` (which keeps min doc_id; the stream keeps FIRST
    ARRIVAL — the only causal choice unbounded streams allow).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    from deidcm_spark.operators.textops import NORM_FP

    fp = docs.select(F.expr(NORM_FP).alias("fp"), "doc_id")

    def first_seen(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:
                pass
            return
        keeper = None
        for pdf in pdfs:
            m = pdf["doc_id"].min()
            keeper = m if keeper is None else min(keeper, m)
        state.update((True,))
        yield pd.DataFrame({"fp": [key[0]], "keep_doc_id": [int(keeper)]})

    out = fp.groupBy("fp").applyInPandasWithState(
        first_seen,
        outputStructType="fp string, keep_doc_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: _idempotent_write(df, bid, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_event_counts(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    window_len: str = "1 hour",
    queryName: str = "event_counts",
):
    """Watermarked event-time windowed aggregation over a landing directory
    of event parquet (late data beyond ``watermark`` is dropped; state is
    bounded).  Complete-mode memory sink for inspection/tests; a production
    run would use append mode into a table once windows close.
    """
    from pyspark.sql import functions as F

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(in_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_rollup(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    value_col: str = "value",
    granularities: list[str] | None = None,
    available_now: bool = True,
    queryName: str = "rollup_refresh",
):
    """Streaming CONTINUOUS-AGGREGATE refresh of the hypertable rollup
    (operators/rollup.py): each micro-batch appends its finest-resolution
    PARTIALS (count/sum/min/max per bucket — decomposable) through the
    idempotent batch-partition sink; :func:`read_rollup` compacts the
    partial log and derives every requested resolution.  count/min/max
    re-aggregate EXACTLY; the double ``sum`` re-aggregates exactly in
    VALUE-SET terms but float addition is not associative, so a partial-
    log sum can differ from the single-pass batch sum in the last ulp —
    round before feeding a sum into any bit-compare (the contract tests
    use exactly-representable values for this reason).  This is how TimescaleDB-style continuous
    aggregates refresh — the raw stream is touched once per batch, the
    materialization is bucket-cardinality, and a replayed micro-batch
    overwrites its own partition instead of double-counting."""
    from deidcm_spark.operators.rollup import (
        base_partials,
        resolve_granularities,
    )

    keys = key_cols or ["event_type"]
    _, base = resolve_granularities(granularities)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(in_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _idempotent_write(
            base_partials(batch_df, "ts", keys, value_col, base),
            batch_id, out_dir,
        )

    return _start(stream, process_batch, checkpoint_dir, available_now, queryName)


def read_rollup(
    spark: SparkSession,
    out_dir: str,
    key_cols: list[str] | None = None,
    granularities: list[str] | None = None,
) -> DataFrame:
    """Compact the streaming partial log into the SAME output as the batch
    :func:`hypertable_rollup` over all events seen so far (equality is the
    test's invariant): merge duplicate base buckets across micro-batches,
    then derive each requested resolution."""
    from deidcm_spark.operators.rollup import (
        derive_levels,
        resolve_granularities,
    )

    keys = key_cols or ["event_type"]
    gs, base = resolve_granularities(granularities)
    partials = spark.read.parquet(out_dir).drop("batch_id")
    return derive_levels(partials, gs, base, keys, combine_base=True)


def _bloom_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    filter_dir: str,
    n_bits: int,
    n_hashes: int,
    hash_impl: str,
    fp_sql: str | None = None,
) -> None:
    """One micro-batch of the Bloom-gated ingest (module-level so tests can
    exercise the replay contract directly).

    Order of operations is the correctness surface:

    1. compact the filter partial log EXCLUDING this batch_id — a replayed
       batch must probe the exact filter state its first attempt saw; if
       its own partial (written by a crashed attempt) were visible, the
       replay would flag every document as seen and emit an empty fresh
       partition where the first attempt's output was lost;
    2. within-batch exact dedup (the filter only knows PRIOR batches —
       a fingerprint occurring twice inside one batch must still collapse);
    3. idempotent fresh-document write (partition batch_id=N);
    4. idempotent filter-partial write: the partial absorbs the WHOLE
       batch (fresh or not — re-setting a set bit is a no-op, so this is
       idempotent by algebra as well as by partitioning).
    """
    from pyspark.sql import Window, functions as F

    from deidcm_spark.operators.bloom import bloom_build, bloom_new_documents
    from deidcm_spark.operators.textops import NORM_FP

    from pyspark.errors import AnalysisException

    if fp_sql is None:
        fp_sql = NORM_FP
    spark = batch_df.sparkSession
    try:
        prior = spark.read.parquet(filter_dir).filter(
            F.col("batch_id") != int(batch_id)
        ).groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    except AnalysisException as e:  # first batch ever: no log yet.  ONLY
        # the path-not-found case may fall back to an empty filter — any
        # other analysis failure (corrupt/schema-less/unreadable log) must
        # FAIL the batch: silently probing an empty filter would re-admit
        # every historical duplicate
        cond = getattr(e, "getCondition", e.getErrorClass)()
        if cond != "PATH_NOT_FOUND":
            raise
        prior = local_frame(spark, [], "word_idx bigint, bits bigint")

    batch_df = batch_df.persist()
    try:
        first = (
            batch_df.withColumn("_fp", F.expr(fp_sql))
            .withColumn(
                "_rk",
                F.row_number().over(Window.partitionBy("_fp").orderBy("doc_id")),
            )
            .filter("_rk = 1")
            .drop("_fp", "_rk")
        )
        fresh = bloom_new_documents(
            first, prior, n_bits, n_hashes, hash_impl,
            broadcast_filter=False, fp_sql=fp_sql,
        )
        _idempotent_write(fresh, batch_id, out_dir)
        _idempotent_write(
            bloom_build(batch_df, n_bits, n_hashes, hash_impl, fp_sql=fp_sql),
            batch_id, filter_dir,
        )
    finally:
        batch_df.unpersist()


def stream_bloom_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    filter_dir: str,
    n_bits: int = 1 << 23,
    n_hashes: int = 4,
    hash_impl: str = "fast",
    schema: str = "doc_id long, text string, lang string, source string",
    available_now: bool = True,
):
    """Continuous-crawl ingest with incremental dedup: documents landing in
    ``in_dir`` are probed against a Bloom filter of everything already
    ingested (operators/bloom.py); only definitely-new documents reach
    ``out_dir``, and the filter grows by an append-only PARTIAL LOG in
    ``filter_dir`` (one ``(word_idx, bits)`` table per micro-batch, same
    decomposable-partial pattern as :func:`stream_rollup` — ``bit_or`` of
    partials of partials is exact).  Compact the log with
    :func:`read_bloom_log` (or periodically rewrite it through
    ``maintenance.compact_parquet`` — MUST pass
    ``partition_by=["batch_id"]``: the replay overwrite and the
    partitioned append both key on the batch_id directory layout).
    Bootstrap from an existing batch filter with
    :func:`bootstrap_bloom_log`.

    Exactly-once: fresh documents and the filter partial both go through
    the batch_id-partitioned idempotent sink, and the probe reads the log
    EXCLUDING the current batch_id (see :func:`_bloom_ingest_batch`)."""
    from deidcm_spark.operators.bloom import _check_bloom

    _check_bloom(n_bits, n_hashes)  # before the query starts, not in a batch
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(in_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _bloom_ingest_batch(
            batch_df, batch_id, out_dir, filter_dir,
            n_bits, n_hashes, hash_impl,
        )

    return _start(stream, process_batch, checkpoint_dir, available_now)


def read_bloom_log(spark: SparkSession, filter_dir: str) -> DataFrame:
    """Compact the streaming filter partial log into one ``(word_idx,
    bits)`` table — interchangeable with a batch-built filter (probe new
    shards against it with ``bloom.bloom_probe``)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(filter_dir)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bootstrap_bloom_log(bloom: DataFrame, filter_dir: str) -> None:
    """Seed a streaming filter log from a batch-built filter (historical
    corpus summarized once with ``bloom.bloom_build``): lands as partition
    ``batch_id=-1``, which no streaming epoch ever overwrites."""
    _idempotent_write(bloom, -1, filter_dir)


def _neardup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    threshold: float,
    max_band_size: int,
    hash_impl: str,
) -> None:
    """One micro-batch of the LSH-gated ingest (module-level so tests can
    exercise the replay contract directly).

    Same correctness ordering as :func:`_bloom_ingest_batch`:

    1. compact the signature partial log EXCLUDING this batch_id (a
       replayed batch must probe the state its first attempt saw);
    2. within-batch doc_id dedup (one row per doc_id);
    3. probe: near-dup pairs touching this batch
       (``dedup.lsh_index_probe`` — history text is never rescanned).
       Drop policy: a batch doc pairing with HISTORY always drops
       (history is canonical regardless of id order); a batch doc
       pairing only inside the batch drops unless it is the pair's
       smaller doc_id (the ``dedup_decisions`` rule);
    4. idempotent fresh-document write (partition batch_id=N);
    5. idempotent signature-partial write of the KEPT docs only — the
       index mirrors the SURVIVING corpus, so a later re-crawl of a
       dropped near-dup re-pairs with its kept winner and drops again,
       while the index never accumulates rows for documents the corpus
       does not hold.  (Bloom absorbs its whole batch because set bits
       are free; signatures are rows.)
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import Window, functions as F

    from deidcm_spark.operators.dedup import lsh_index_build, lsh_index_probe

    spark = batch_df.sparkSession
    try:
        prior = (
            spark.read.parquet(index_dir)
            .filter(F.col("batch_id") != int(batch_id))
            .drop("batch_id")
            .distinct()
        )
    except AnalysisException as e:  # first batch ever: no log yet.  ONLY
        # path-not-found may fall back to an empty index — anything else
        # (corrupt/unreadable log) must FAIL the batch, or every
        # historical near-dup would be re-admitted
        cond = getattr(e, "getCondition", e.getErrorClass)()
        if cond != "PATH_NOT_FOUND":
            raise
        # empty index with the RIGHT schema (doc_id type follows the batch)
        prior = lsh_index_build(batch_df.limit(0), hash_impl=hash_impl)

    batch_df = batch_df.persist()
    try:
        first = (
            batch_df.withColumn(
                "_rk",
                F.row_number().over(
                    # deterministic pick among same-doc_id rows
                    Window.partitionBy("doc_id").orderBy(
                        F.col("text").asc_nulls_first()
                    )
                ),
            )
            .filter("_rk = 1")
            .drop("_rk")
        )
        pairs = lsh_index_probe(
            prior, first, threshold=threshold,
            max_band_size=max_band_size, hash_impl=hash_impl,
        )
        batch_ids = first.select("doc_id")
        tagged = (
            pairs.join(
                batch_ids.withColumnRenamed("doc_id", "doc_a")
                .withColumn("_a_new", F.lit(True)),
                "doc_a", "left",
            )
            .join(
                batch_ids.withColumnRenamed("doc_id", "doc_b")
                .withColumn("_b_new", F.lit(True)),
                "doc_b", "left",
            )
        )
        drops = tagged.select(
            F.when(~F.coalesce("_a_new", F.lit(False)), F.col("doc_b"))  # a=history
            .when(~F.coalesce("_b_new", F.lit(False)), F.col("doc_a"))   # b=history
            .otherwise(F.col("doc_b"))  # both new: keep the smaller id
            .alias("doc_id")
        ).distinct()
        fresh = first.join(drops, "doc_id", "left_anti")
        _idempotent_write(fresh, batch_id, out_dir)
        _idempotent_write(
            lsh_index_build(fresh, hash_impl=hash_impl), batch_id, index_dir
        )
    finally:
        batch_df.unpersist()


def stream_neardup_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    threshold: float = 0.8,
    max_band_size: int = 100,
    hash_impl: str = "fast",
    schema: str = "doc_id long, text string, lang string, source string",
    available_now: bool = True,
):
    """Continuous-crawl ingest with incremental NEAR-dup gating: documents
    landing in ``in_dir`` are probed against the minhash-signature index
    of everything already KEPT (``dedup.lsh_index_probe`` — banding +
    signature-agreement Jaccard, history text never rescanned); survivors
    reach ``out_dir`` and their signatures extend the index as an
    append-only partial log in ``index_dir`` (compact with
    :func:`read_lsh_log`; bootstrap from a batch-built index with
    :func:`bootstrap_lsh_log`).

    The Bloom gate (:func:`stream_bloom_ingest`) kills exact re-crawls;
    this lane kills boilerplate-level near-dups (mirror pages, template
    spam) the moment they arrive instead of in the next full-corpus dedup
    sweep.  Exactly-once by the same partial-log + idempotent-partition
    contract (see :func:`_neardup_ingest_batch`)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(in_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _neardup_ingest_batch(
            batch_df, batch_id, out_dir, index_dir,
            threshold, max_band_size, hash_impl,
        )

    return _start(stream, process_batch, checkpoint_dir, available_now)


def read_lsh_log(spark: SparkSession, index_dir: str) -> DataFrame:
    """Compact the streaming signature partial log into one index table —
    interchangeable with a batch-built ``dedup.lsh_index_build`` over the
    kept corpus (probe new shards with ``dedup.lsh_index_probe``)."""
    return spark.read.parquet(index_dir).drop("batch_id").distinct()


def bootstrap_lsh_log(index: DataFrame, index_dir: str) -> None:
    """Seed a streaming signature log from a batch-built index
    (historical corpus summarized once with ``dedup.lsh_index_build``):
    lands as partition ``batch_id=-1``, which no streaming epoch ever
    overwrites."""
    _idempotent_write(index, -1, index_dir)


# binaryFile's fixed schema — the streaming source demands it explicitly
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_warc_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    filter_dir: str | None = None,
    n_bits: int = 1 << 23,
    n_hashes: int = 4,
    hash_impl: str = "fast",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    dedup_by: str = "content",
):
    """END of the continuous-crawl story: ``.warc`` / ``.warc.gz`` shards
    landing in ``in_dir`` stream straight into the raw-document table —
    each micro-batch of newly-arrived shard files decodes through the
    SAME ``warc.warc_records`` stage as the batch source, applies the
    OK-HTML gate (``warc_to_documents``), and lands exactly-once:

    * ``filter_dir=None`` — plain idempotent append (batch_id partition);
    * ``filter_dir`` set — the full Bloom-gated path
      (:func:`_bloom_ingest_batch`): only documents whose fingerprint is
      new to the ENTIRE history reach ``out_dir``, and the filter partial
      log grows per batch.  Seed history with :func:`bootstrap_bloom_log`.

    ``dedup_by`` picks the crawl-dedup policy the gate keys on:
    ``"content"`` (default) fingerprints the normalized text — re-crawls
    of the same page at new URLs are dropped; ``"url"`` fingerprints the
    CANONICAL URL (``linkgraph.canonicalize_url`` — tracking params,
    fragments, www/port folds) — the classic crawler URL-seen test: a
    page is fetched once per canonical URL even when its content churns,
    and the output table carries ``url``/``canonical_url``/``host``
    columns.  ``"url"`` requires ``filter_dir`` (the policy IS the
    history gate).

    The streaming source is ``binaryFile`` (schema must be given
    explicitly — Spark refuses to infer one for a streaming source);
    one shard file = one source row, so ``max_files_per_trigger`` is the
    batch-size knob in SHARDS (~1 GB each in the wild)."""
    stream = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(in_dir)
    )

    if dedup_by not in ("content", "url"):
        raise ValueError(f"dedup_by must be 'content' or 'url', got {dedup_by!r}")
    if dedup_by == "url" and filter_dir is None:
        raise ValueError("dedup_by='url' requires filter_dir (the URL-seen history)")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from deidcm_spark.warc import warc_records, warc_to_documents

        recs = warc_records(batch_df.select("path", "content"))
        if dedup_by == "url":
            from deidcm_spark.operators.linkgraph import canonicalize_url

            docs = canonicalize_url(warc_to_documents(recs, keep_url=True))
            fp_sql = "md5(canonical_url)"
        else:
            docs = warc_to_documents(recs)
            fp_sql = None
        if filter_dir is not None:
            _bloom_ingest_batch(
                docs, batch_id, out_dir, filter_dir,
                n_bits, n_hashes, hash_impl, fp_sql=fp_sql,
            )
        else:
            _idempotent_write(docs, batch_id, out_dir)

    return _start(stream, process_batch, checkpoint_dir, available_now)


def stream_cdf(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    m: int = 4096,
    weight_col: str | None = None,
    schema: str = "doc_id long, value double",
    available_now: bool = True,
    queryName: str = "cdf_refresh",
):
    """Streaming refresh of the CDF quantile sketch
    (``operators/quantile.cdf_build``): each micro-batch appends its own
    ≤ m-row sketch PARTIAL through the idempotent batch-partition sink
    (``sum`` counts are decomposable — partials of partials re-aggregate
    exactly, the ``stream_rollup``/``stream_bloom_ingest`` contract);
    :func:`read_cdf` compacts the log into the identical table a batch
    build over everything-seen-so-far would produce.  Continuous corpus
    statistics (length/score quantiles over a live crawl) without ever
    rescanning history: the log grows by ≤ m rows per micro-batch
    regardless of batch size, and a replayed batch overwrites its own
    partition instead of double-counting."""
    from deidcm_spark.operators.quantile import cdf_build

    stream = spark.readStream.schema(schema).parquet(in_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _idempotent_write(
            cdf_build(batch_df, value_col, lo, hi, m, weight_col=weight_col),
            batch_id, out_dir,
        )

    return _start(stream, process_batch, checkpoint_dir, available_now, queryName)


def read_cdf(spark: SparkSession, out_dir: str) -> DataFrame:
    """Compact the streaming sketch partial log → ``(bucket_idx, cnt)``,
    interchangeable with a batch ``cdf_build`` over the union of all
    micro-batches (the test's equality invariant); feed it straight to
    ``quantile.cdf_quantile``/``cdf_merge``."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(out_dir)
        .groupBy("bucket_idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_quality_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    model_dir: str,
    alpha: float = 9.0,
    normalize: bool = False,
    schema: str = "doc_id long, text string, lang string, source string",
    available_now: bool = True,
):
    """Continuous-crawl ingest gated by the classifier quality filter
    (operators/classify.py): documents landing in ``in_dir`` are scored
    against a PERSISTED model (``classify.save_model`` output — trained
    offline on seed corpora, like the reference filter a GPT-3-style
    pipeline ships to its crawlers) and only Pareto-gate survivors reach
    ``out_dir``, with prob/pareto_draw attached for downstream
    thresholding.  Completes the crawl front-door trio: Bloom gate =
    exact dedup, LSH gate = near dedup, this = quality.

    Unlike those two, the gate is STATELESS (the model is frozen; the
    draw is a pure hash of the doc_id), so there is no partial log and
    replay is idempotent by construction — the batch-partitioned sink
    alone gives exactly-once.  The model's weights table loads once at
    stream start and broadcasts into every micro-batch's score join."""
    from deidcm_spark.operators.classify import (
        load_model,
        nb_score,
        pareto_select,
    )

    weights, meta = load_model(spark, model_dir)
    weights = weights.cache()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(in_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = pareto_select(
            nb_score(batch_df.select("doc_id", "text"), weights, meta,
                     normalize=normalize),
            alpha=alpha,
        ).select("doc_id", "prob", "pareto_draw")
        _idempotent_write(batch_df.join(kept, "doc_id"), batch_id, out_dir)

    return _start(stream, process_batch, checkpoint_dir, available_now)
