"""Worker for bench_scaling: run the deid pipeline once on a pre-written
corpus and print docs/sec.  Invoked via spark-submit at different local[N]
parallelism levels on IDENTICAL input (the sandbox substitute for N vs 4N
executors mandated by BASELINE.json's north_rule).

Usage: spark-submit --master local[N] tools/scaling_worker.py <corpus_parquet> <n_partitions>
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, "/root/repo")

from deidcm_spark.operators import extract  # noqa: E402
from deidcm_spark.operators.deidentify import deidentify_attributes  # noqa: E402


def main() -> None:
    corpus_path = sys.argv[1]
    n_partitions = int(sys.argv[2])
    html_corpus_path = sys.argv[3] if len(sys.argv) > 3 else None
    fp_path = sys.argv[4] if len(sys.argv) > 4 else None
    fp_table_loc = sys.argv[5] if len(sys.argv) > 5 else None
    fp_buckets = int(sys.argv[6]) if len(sys.argv) > 6 else 64
    spark = (
        SparkSession.builder.appName("scaling_worker")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.shuffle.partitions", str(n_partitions))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(corpus_path)
    # warm-up: JVM codegen, Arrow python workers (full UDF path), parquet
    # footers — excluded from the timed window
    warm = deidentify_attributes(docs.limit(512), "9.9.9.9.9", "warm")
    warm.agg(F.count("*")).collect()

    t0 = time.perf_counter()
    out = deidentify_attributes(
        docs.repartition(n_partitions, F.xxhash64("doc_id", F.lit("scaling"))),
        "9.9.9.9.9", "scaling",
    )
    n_docs, n_spans = out.agg(
        F.count("*"), F.sum(F.size("spans"))
    ).collect()[0]
    elapsed = time.perf_counter() - t0
    result = {
        "n_docs": n_docs,
        "n_spans_out": int(n_spans),
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(n_docs / elapsed, 1),
    }

    # zero-exchange lane: the corpus parquet is already written partitioned
    # (the bucketed-ingest story, lineage.prepare_bucketed_corpus) — deid
    # runs scan → mapInArrow → agg with NO shuffle of the span payload
    t0 = time.perf_counter()
    out_nx = deidentify_attributes(docs, "9.9.9.9.9", "scaling_nx")
    nx_docs = out_nx.agg(F.count("*"), F.sum(F.size("spans"))).collect()[0][0]
    nx_elapsed = time.perf_counter() - t0
    result.update({
        "noshuffle_elapsed_sec": round(nx_elapsed, 3),
        "noshuffle_docs_per_sec": round(nx_docs / nx_elapsed, 1),
    })

    if html_corpus_path:
        # extraction lane (north_rule): same two-level evidence, same input.
        # Zero-exchange shape (the prepare_bucketed_raw_corpus story): the
        # stored corpus is consumed as-is, scan → html → mapInPandas → agg.
        raw = spark.read.parquet(html_corpus_path)
        ex_warm = extract.extract_main_content(extract.with_html(raw.limit(512)))
        ex_warm.agg(F.count("*")).collect()
        t0 = time.perf_counter()
        ex = extract.extract_main_content(extract.with_html(raw))
        ex_docs, ex_spans = ex.agg(F.count("*"), F.sum(F.size("spans"))).collect()[0]
        ex_elapsed = time.perf_counter() - t0
        result.update({
            "extract_n_docs": ex_docs,
            "extract_n_spans": int(ex_spans),
            "extract_elapsed_sec": round(ex_elapsed, 3),
            "extract_docs_per_sec": round(ex_docs / ex_elapsed, 1),
        })

        # shuffled shape: run_extract_job's compute plan when the input is
        # NOT pre-bucketed — salted bucket column + repartition before the
        # extractor (the full span payload crosses one exchange)
        from deidcm_spark.lineage import bucket_expr

        t0 = time.perf_counter()
        shuffled = (
            raw.withColumn("doc_id", F.col("doc_id").cast("string"))
            .withColumn("bucket", bucket_expr("scaling", n_partitions))
            .repartition(n_partitions, "bucket")
        )
        exs = extract.extract_main_content(extract.with_html(shuffled))
        exs_docs = exs.agg(F.count("*"), F.sum(F.size("spans"))).collect()[0][0]
        exs_elapsed = time.perf_counter() - t0
        result.update({
            "extract_shuffled_elapsed_sec": round(exs_elapsed, 3),
            "extract_shuffled_docs_per_sec": round(exs_docs / exs_elapsed, 1),
        })

        # dedup lane: the FULL near-dup candidate path — shingle → minhash
        # signatures (hash aggregate) → LSH banding → band self-join →
        # distinct pairs — over the whole replicated corpus (every band
        # bucket holds a true 64-doc duplicate cluster, so the join has
        # real work; the window is long enough that compute, not per-stage
        # scheduling latency, dominates at every level — measured: a 20k-doc
        # subset read 0.52 "efficiency" that was pure stage-pipeline floor).
        # hash_impl="fast" (xxhash64) is the at-scale path a 100 TB
        # pipeline would choose; the md5-portable spec is what the oracle
        # checks.  Broadcast is DISABLED for this lane: at probe scale the
        # 320k-row band side slips under the 10 MB threshold and the self-
        # join becomes a BroadcastHashJoin whose hash-relation build is
        # driver-serial (measured: the non-scaling term) — at corpus scale
        # that side could never broadcast, so the representative plan is
        # the sort-merge self-join, which is also absolutely faster here.
        from deidcm_spark.operators import dedup

        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ded = raw.select("doc_id", "text")
            ded_docs = ded.count()
            dedup.lsh_candidate_pairs(ded.limit(512), hash_impl="fast").agg(
                F.count("*")
            ).collect()
            t0 = time.perf_counter()
            n_pairs = dedup.lsh_candidate_pairs(ded, hash_impl="fast").agg(
                F.count("*")
            ).collect()[0][0]
            ded_elapsed = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        result.update({
            "dedup_n_docs": ded_docs,
            "dedup_n_pairs": int(n_pairs),
            "dedup_elapsed_sec": round(ded_elapsed, 3),
            "dedup_docs_per_sec": round(ded_docs / ded_elapsed, 1),
        })

        # DSIR lane: target-steered importance sampling over the full
        # corpus — two hashed-2-gram distribution builds (hash aggregates
        # collapsing to 65536-row tables), the broadcast-LLR scoring
        # stream (explode → broadcast join → per-doc partial-combined
        # sum), and the Gumbel top-k (TakeOrderedAndProject).  The gram
        # explode makes this the heaviest WHOLE-CORPUS-scan lane;
        # hash_impl="fast" is the at-scale hashing a 100 TB pipeline
        # would choose (same rationale as the dedup lane).
        from deidcm_spark.operators.sampling import importance_sample

        raw_d = raw.select("doc_id", "text")
        tgt_d = raw_d.filter("doc_id % 64 = 0")  # deterministic 1/64 slice
        importance_sample(
            raw_d.limit(512), tgt_d.limit(256), 8, n_buckets=512,
            hash_impl="fast",
        ).collect()
        t0 = time.perf_counter()
        n_sel = len(
            importance_sample(
                raw_d, tgt_d, 1000, n_buckets=65536, hash_impl="fast"
            ).collect()
        )
        dsir_elapsed = time.perf_counter() - t0
        result.update({
            "dsir_n_docs": ded_docs,
            "dsir_n_selected": n_sel,
            "dsir_elapsed_sec": round(dsir_elapsed, 3),
            "dsir_docs_per_sec": round(ded_docs / dsir_elapsed, 1),
        })

        # exact-substring dedup lane (round-3 session-4 operator): the
        # heaviest new lane — O(n_tokens × window) hashing on the explode
        # side, one winner aggregation over EVERY window occurrence,
        # the loser join back, and per-doc interval-merge folds.  The
        # replicated corpus makes every window a 64-way duplicate, so the
        # winner/loser machinery carries real volume at every level.
        from deidcm_spark.operators.spandedup import substring_dedup

        substring_dedup(raw_d.limit(512), window=32, hash_impl="fast").agg(
            F.count("*")
        ).collect()
        t0 = time.perf_counter()
        sub = substring_dedup(raw_d, window=32, hash_impl="fast").agg(
            F.count("*"), F.sum("n_removed_tokens")
        ).collect()[0]
        sub_elapsed = time.perf_counter() - t0
        result.update({
            "substr_n_docs": int(sub[0]),
            "substr_removed_tokens": int(sub[1]),
            "substr_elapsed_sec": round(sub_elapsed, 3),
            "substr_docs_per_sec": round(int(sub[0]) / sub_elapsed, 1),
        })

    if fp_path:
        # dedup-winner A/B (r3 VERDICT item #7): the SAME fingerprint rows
        # aggregated `groupBy(fp).agg(min(doc_id), count(*))` — the
        # dedup_exact / line_dedup winner reduction — from (a) plain
        # parquet, where the aggregation pays one full exchange, and
        # (b) the bucketed layout re-attached via register_bucketed,
        # where the bucketed scan already provides HashPartitioning(fp)
        # and the plan has ZERO exchanges (asserted in tests/test_plans).
        from deidcm_spark.sources import register_bucketed

        def winner_totals(df):
            win = df.groupBy("fp").agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count("*").alias("n_dupes"),
            )
            row = win.agg(F.count("*"), F.sum("n_dupes")).collect()[0]
            return int(row[0]), int(row[1])

        fpd = spark.read.parquet(fp_path)
        winner_totals(fpd.limit(4096))  # warm
        t0 = time.perf_counter()
        n_groups, n_rows = winner_totals(fpd)
        sh_elapsed = time.perf_counter() - t0

        register_bucketed(
            spark, "scaling_fp_b", fp_table_loc,
            "fp BIGINT, doc_id BIGINT", "fp", fp_buckets,
        )
        fpb = spark.table("scaling_fp_b")
        winner_totals(fpb.limit(4096))  # warm the bucketed reader
        t0 = time.perf_counter()
        nb_groups, nb_rows = winner_totals(fpb)
        b_elapsed = time.perf_counter() - t0
        if (n_groups, n_rows) != (nb_groups, nb_rows):
            raise AssertionError(
                f"layouts disagree: {(n_groups, n_rows)} vs "
                f"{(nb_groups, nb_rows)}"
            )
        result.update({
            "dedupwin_n_rows": n_rows,
            "dedupwin_n_groups": n_groups,
            "dedupwin_elapsed_sec": round(sh_elapsed, 3),
            "dedupwin_rows_per_sec": round(n_rows / sh_elapsed, 1),
            "dedupwin_bucketed_elapsed_sec": round(b_elapsed, 3),
            "dedupwin_bucketed_rows_per_sec": round(n_rows / b_elapsed, 1),
        })

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
