"""spark-submit entry point: ``spark-submit --py-files deidcm_spark.zip -m``
or ``python -m deidcm_spark <command> ...``.

The north rule's submission path is ``spark-submit --py-files`` on a
multi-executor cluster; this module is the job main that path runs.
Subcommands map 1:1 to the engine's lanes, each resumable where the lane
supports it:

  deid     span-form documents → de-identified documents (+ metrics cols)
           as a bucket-committed, resumable job (lineage.run_deid_job):
           <output>/data (hive bucket= partitions) + <output>/_lineage;
           a rerun commits only the missing buckets, one under other
           settings raises (<output>/_settings.json)
  extract  raw (doc_id, text, lang, source) documents → interleaved
           main-content span table, same layout and resume
           (lineage.run_extract_job); its <output>/data feeds deid with
           no shuffle under the same --salt/--buckets
  scrub    raw documents → PHI-scrubbed text (dates/times/emails/names/UIDs)
  dedup    raw documents → verified near-dup pairs + KEEP/DROP decisions
  semdedup embeddings → SemDeDup KEEP/DROP decisions + persisted codebook
           [--codebook: prune a new drop against a prior run's space]
  dsir     raw documents + --target corpus → the --k most target-like
           documents (DSIR importance sampling, deterministic)
  ppl      raw documents + --reference corpus → per-doc LM perplexity
           (CCNet-style quality filtering)
  qualityfilter train a hashed-n-gram NB classifier on --positive vs
           --negative seeds, keep --input docs through the Pareto
           acceptance gate (GPT-3 quality filter)
  balance  k-means the embedding space, re-draw --k rows under
           per-cluster quotas (topic rebalancing; --policy uniform |
           proportional | temperature)
  bpe      train a BPE tokenizer (or reuse --merges) → persisted merge
           list + per-doc subword counts
  compact  small-file compaction: rewrite a fragmented parquet dir into
           ~--target-mb files (Iceberg rewrite_data_files analogue)
  linededup raw documents → documents rebuilt without corpus-duplicated
           lines (C4-style boilerplate-line removal)
  substrdedup raw documents → documents with duplicated token windows
           removed (exact-substring dedup, keep-first)
  bloom    build/extend a Bloom filter over document fingerprints;
           with --filter, also write the definitely-new shard docs
  packseq  raw documents → fixed-length training-sequence piece table
  warc     .warc/.warc.gz shard tree → response-record table + the
           extraction-ready raw-document table
  qualitygate raw documents → signals + keep/reasons (Gopher/C4 rule
           cascade), drop-mass per rule in the summary
  hostrank WARC records table → host link edges + PageRank table
  report   raw documents → per-(source, lang) dataset-card aggregates
  heavyhitters every word n-gram ≥ --min-count occurrences with exact
           counts (CMS-gated — the singleton tail never shuffles)
  topk     keep the --k (or --fraction) highest-scoring rows without a
           global sort (bucket prefix + boundary refinement)
  snapdiff diff two corpus snapshots by document fingerprint → delta +
           the incremental reprocess slice (CDC)
  pq       product-quantization: codebook + compressed codes table
           [--query-id: ADC top-k search with exact rerank;
            --nlist: IVF-PQ coarse lists + residual codes]
  zorder   rewrite a parquet dir clustered on the Z-order curve over
           --cols (file-level min/max pruning for k-D predicates)
  curate   the full curation flow in one job: normalize → [--pii scrub]
           → quality gate → [--classifier-positive gate] → line dedup →
           exact dedup → pack (per-stage materialization + drop-mass
           ledger)
  textstats raw documents → per-doc token/quality/language/fingerprint table
  ingest   raw documents → span-form table (ingest.documents_to_spans)
  export   de-identified span table → rendered JSON + meta CSV, or real
           DICOM Part-10 files [--format dcm, --media payloads.parquet]

Examples:

  spark-submit --master local[32] --py-files deidcm_spark.zip \\
      --driver-java-options "-XX:+UseParallelGC" --driver-memory 8g \\
      -m deidcm_spark deid --input in.parquet --output out/ \\
      --org-root 9.9.9.9.9 --salt s1 --buckets 32

(For ``spark-submit`` + ``-m`` on Spark versions without module support,
an equivalent one-line driver script works: ``from deidcm_spark.__main__
import main; main()``.)

Pass ``--driver-java-options``/``--driver-memory`` ON THE SUBMIT LINE:
they are JVM-launch options, so the equivalent confs session.get_spark
sets are inert once spark-submit has started the driver JVM — and
ParallelGC is measured load-bearing here (BENCH/BASELINE.md, >2x on the
deid lane).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import Observation, functions as F

from deidcm_spark.pipeline import write_stage

# Every command writes through pipeline.write_stage: one write job, the
# summary fields observed as aggregates on that write, and a read-back
# given the written schema (no schema-inference job).  tests/
# test_cli_write_stage.py rejects any other `.write` in this module.


def _spark(app: str, shuffle_partitions: int = 32):
    from deidcm_spark.session import get_spark

    return get_spark(app_name=app, shuffle_partitions=shuffle_partitions)


def _rows():
    return F.count(F.lit(1))


def _total(col: str):
    """``sum(col)``, 0 (not NULL) over no rows."""
    return F.coalesce(F.sum(col), F.lit(0))


def _write_counted(spark, df, path: str) -> int:
    """Write ``df`` to ``path``; its row count is observed on the write."""
    return write_stage(spark, df, path, n=_rows())[1]["n"]


def cmd_deid(args) -> dict:
    from deidcm_spark import lineage

    spark = _spark("deidcm_deid")
    return lineage.run_deid_job(
        spark, spark.read.parquet(args.input), args.output, args.org_root,
        args.salt, n_buckets=args.buckets, run_id=args.run_id,
        date_mode=args.date_mode, date_offset=args.date_offset,
    )


def cmd_extract(args) -> dict:
    from deidcm_spark import lineage

    spark = _spark("deidcm_extract")
    return lineage.run_extract_job(
        spark, spark.read.parquet(args.input), args.output, args.salt,
        n_buckets=args.buckets, run_id=args.run_id,
    )


def cmd_scrub(args) -> dict:
    spark = _spark("deidcm_scrub", args.shuffle_partitions)
    docs = spark.read.parquet(args.input)
    from deidcm_spark.operators import scrub

    names = [n.strip() for n in args.names.split(",") if n.strip()] \
        if args.names else []
    out = scrub.scrub_documents(docs, args.org_root, names)
    if args.pii:
        out = scrub.scrub_pii(out)
    return {"docs": _write_counted(spark, out, args.output)}


def cmd_pipeline(args) -> dict:
    """Free-text lane end-to-end: PHI scrub → main-content extraction."""
    spark = _spark("deidcm_pipeline", args.shuffle_partitions)
    from deidcm_spark import pipeline

    names = [n.strip() for n in args.names.split(",") if n.strip()] \
        if args.names else []
    out = pipeline.scrub_extract(
        spark.read.parquet(args.input), args.org_root, names
    )
    return {"docs": _write_counted(spark, out, args.output)}


def cmd_dedup(args) -> dict:
    """Near-dup dedup lane: MinHash-LSH candidates → exact Jaccard verify
    → greedy KEEP/DROP; writes (doc_id, keep) plus the verified pair
    table next to it (the materialize-pairs-first shape the operator
    docstring prescribes at scale)."""
    spark = _spark("deidcm_dedup", args.shuffle_partitions)
    from deidcm_spark.operators import dedup

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    pairs, seen = write_stage(
        spark, dedup.ngram_jaccard_pairs(docs, threshold=args.threshold),
        args.output + "/pairs", pairs=_rows(),
    )
    _, dec = write_stage(
        spark, dedup.dedup_decisions_from_pairs(docs, pairs),
        args.output + "/decisions",
        docs=_rows(), dropped=F.count_if(F.col("keep") == 0),
    )
    return {**dec, **seen}


def cmd_semdedup(args) -> dict:
    """Semantic-dedup lane (SemDeDup): codebook → cluster → within-cluster
    prune.  The codebook is WRITTEN next to the decisions so incremental
    re-runs (and the next corpus drop) prune against the SAME embedding
    space — pass it back via --codebook."""
    spark = _spark("deidcm_semdedup", args.shuffle_partitions)
    from deidcm_spark.operators.semdedup import semdedup
    from deidcm_spark.operators.similarity import ivf_centroids
    from deidcm_spark.schema import local_frame

    emb = spark.read.parquet(args.input).select("vec_id", "embedding")
    if args.codebook:
        rows = spark.read.parquet(args.codebook).orderBy("cluster").collect()
        cents = [list(r["centroid"]) for r in rows]
    else:
        cents = ivf_centroids(emb, n_centroids=args.centroids)
    write_stage(spark, local_frame(
        spark,
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    ).coalesce(1), args.output + "/codebook")
    _, seen = write_stage(
        spark, semdedup(emb, threshold=args.threshold, centroids=cents),
        args.output + "/decisions",
        vectors=_rows(), dropped=F.count_if(F.col("action") == "DROP"),
    )
    return {**seen, "clusters": len(cents)}


def cmd_dsir(args) -> dict:
    """DSIR importance-sampling lane: select the --k raw documents most
    like the --target corpus (hashed-2-gram LLR weights, deterministic
    Gumbel top-k)."""
    spark = _spark("deidcm_dsir", args.shuffle_partitions)
    from deidcm_spark.operators.sampling import importance_sample

    raw = spark.read.parquet(args.input).select("doc_id", "text")
    tgt = spark.read.parquet(args.target).select("doc_id", "text")
    selected = importance_sample(raw, tgt, args.k, n_buckets=args.buckets)
    return {"selected": _write_counted(spark, selected, args.output), "k": args.k}


def cmd_qualityfilter(args) -> dict:
    """GPT-3-style classifier quality filter (arXiv:2005.14165 App. A):
    train a hashed-n-gram Naive Bayes on --positive vs --negative seed
    corpora, score --input, keep docs through the deterministic Pareto
    acceptance gate."""
    spark = _spark("deidcm_qualityfilter", args.shuffle_partitions)
    from deidcm_spark.operators.classify import (
        nb_score,
        nb_train,
        pareto_select,
        save_model,
    )

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    pos = spark.read.parquet(args.positive).select("doc_id", "text")
    neg = (
        spark.read.parquet(args.negative).select("doc_id", "text")
        if args.negative else docs
    )
    weights, meta = nb_train(pos, neg, n_buckets=args.buckets)
    if args.save_model:
        save_model(weights, meta, args.save_model)
    # the scoring plan reads docs once: its count rides the same write
    n_in = Observation()
    _, seen = write_stage(spark, pareto_select(
        nb_score(docs.observe(n_in, _rows().alias("docs")), weights, meta,
                 normalize=args.normalize),
        alpha=args.alpha,
    ), args.output, kept=_rows())
    res = {**n_in.get, **seen, "alpha": args.alpha}
    if args.save_model:
        res["model"] = args.save_model
    return res


def cmd_balance(args) -> dict:
    """Cluster-balanced selection lane: k-means the embedding space,
    re-draw --k rows under per-cluster quotas (--policy uniform |
    proportional | temperature)."""
    spark = _spark("deidcm_balance", args.shuffle_partitions)
    from deidcm_spark.operators.balance import cluster_balanced_sample
    from deidcm_spark.operators.dedup import release_caches

    emb = spark.read.parquet(args.input).select("vec_id", "embedding")
    picked = cluster_balanced_sample(
        emb, args.k, n_centroids=args.centroids, policy=args.policy,
        alpha=args.alpha, n_salts=args.salts,
    )
    # DISTINCT cannot be observed, but the set of cluster ids is at most
    # --centroids long: observe it whole and take its size
    _, seen = write_stage(
        spark, picked, args.output,
        selected=_rows(), clusters=F.size(F.collect_set("cluster")),
    )
    release_caches(picked)
    return {**seen, "policy": args.policy}


def cmd_compact(args) -> dict:
    """Table-maintenance lane: rewrite a fragmented parquet directory into
    ~--target-mb files (the Iceberg rewrite_data_files analogue)."""
    spark = _spark("deidcm_compact", args.shuffle_partitions)
    from deidcm_spark.maintenance import compact_parquet

    part = [c.strip() for c in args.partition_by.split(",") if c.strip()] \
        if args.partition_by else None
    return compact_parquet(
        spark, args.input, args.output,
        target_bytes=args.target_mb * 1024 * 1024,
        partition_by=part,
    )


def cmd_bpe(args) -> dict:
    """BPE tokenizer lane: train the merge list (on --reference if given,
    else on the input corpus), persist it, and write per-doc subword
    counts.  --merges reuses a previously persisted list (count a new
    drop under the SAME tokenizer)."""
    spark = _spark("deidcm_bpe", args.shuffle_partitions)
    from deidcm_spark.operators.bpe import bpe_token_count, train_bpe
    from deidcm_spark.schema import local_frame

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    if args.merges:
        rows = spark.read.parquet(args.merges).orderBy("rank").collect()
        merges = [(r["a"], r["b"]) for r in rows]
    else:
        ref = (spark.read.parquet(args.reference).select("doc_id", "text")
               if args.reference else docs)
        merges = train_bpe(ref, n_merges=args.n_merges)
    write_stage(spark, local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    ).coalesce(1), args.output + "/merges")
    _, seen = write_stage(
        spark, bpe_token_count(docs, merges), args.output + "/counts",
        docs=_rows(), words=_total("n_words"),
        bpe_tokens=_total("n_bpe_tokens"),
    )
    return {"docs": seen["docs"], "merges": len(merges),
            "words": seen["words"], "bpe_tokens": seen["bpe_tokens"]}


def cmd_ppl(args) -> dict:
    """LM-perplexity quality-filter lane (CCNet): score every document's
    perplexity under a hashed bigram LM trained on --reference."""
    spark = _spark("deidcm_ppl", args.shuffle_partitions)
    from deidcm_spark.operators.sampling import perplexity_score

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    ref = spark.read.parquet(args.reference).select("doc_id", "text")
    return write_stage(
        spark, perplexity_score(docs, ref, n_buckets=args.buckets,
                                alpha=args.alpha),
        args.output, docs=_rows(), scored=F.count("ppl"),
    )[1]


def cmd_linededup(args) -> dict:
    """Corpus-wide line dedup lane (C4-style boilerplate-line removal):
    rebuild every document without lines whose exact content already
    occurred earlier in the corpus."""
    spark = _spark("deidcm_linededup", args.shuffle_partitions)
    from deidcm_spark.operators.spandedup import line_dedup

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    return write_stage(
        spark, line_dedup(docs, min_line_chars=args.min_line_chars,
                          hash_impl=args.hash),
        args.output, docs=_rows(), lines=_total("n_lines"),
        dropped_lines=_total("n_dropped"),
    )[1]


def cmd_substrdedup(args) -> dict:
    """Exact-substring dedup lane (arXiv:2107.06499): remove every
    duplicated --window-token span except its first occurrence."""
    spark = _spark("deidcm_substrdedup", args.shuffle_partitions)
    from deidcm_spark.operators.spandedup import substring_dedup

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    return write_stage(
        spark, substring_dedup(docs, window=args.window, hash_impl=args.hash),
        args.output, docs=_rows(), tokens=_total("n_tokens"),
        removed_tokens=_total("n_removed_tokens"),
    )[1]


def cmd_bloom(args) -> dict:
    """Incremental-dedup lane: build/extend a Bloom filter over document
    fingerprints and (with --filter) keep only the definitely-new shard
    documents.  Writes <output>/filter always; <output>/fresh when
    probing.  The updated filter always absorbs the whole input shard
    (duplicate fingerprints set already-set bits — idempotent)."""
    spark = _spark("deidcm_bloom", args.shuffle_partitions)
    from deidcm_spark.operators.bloom import (
        bloom_build,
        bloom_merge,
        bloom_new_documents,
    )

    import os

    if args.filter and (
        os.path.abspath(args.filter)
        == os.path.abspath(args.output + "/filter")
    ):
        raise SystemExit(
            "bloom: --filter must not be <output>/filter — the merged "
            "filter write would overwrite the table it is reading "
            "(point --output at a new directory, like compact)"
        )
    docs = spark.read.parquet(args.input)
    summary: dict = {"bits": args.bits, "hashes": args.hashes}
    if not args.filter:
        shard_filter = bloom_build(docs, args.bits, args.hashes, args.hash)
    else:
        prior = spark.read.parquet(args.filter)
        summary.update(write_stage(
            spark,
            bloom_new_documents(docs, prior, args.bits, args.hashes, args.hash),
            args.output + "/fresh", fresh=_rows(),
        )[1])
        # the probe reads docs twice, the filter build once: count it there
        n_in = Observation()
        shard = docs.observe(n_in, _rows().alias("input"))
        shard_filter = bloom_merge(
            prior, bloom_build(shard, args.bits, args.hashes, args.hash)
        )
    _, seen = write_stage(
        spark, shard_filter, args.output + "/filter", filter_words=_rows()
    )
    if args.filter:
        summary.update(n_in.get)
    return {**summary, **seen}


def cmd_sketch(args) -> dict:
    """Corpus-statistics lane: build (or --merge-with extend) a mergeable
    sketch over a column — HLL registers for distinct-count, CMS counters
    for frequency — and write the sketch table; HLL also reports the
    cardinality estimate, CMS answers --query items from <output>/est."""
    spark = _spark("deidcm_sketch", args.shuffle_partitions)
    from deidcm_spark.operators import sketch as sk
    from deidcm_spark.schema import local_frame

    import os

    if args.merge_with and (
        os.path.abspath(args.merge_with) == os.path.abspath(args.output)
    ):
        raise SystemExit(
            "sketch: --merge-with must not equal --output — the merged "
            "sketch write would overwrite the table it is reading"
        )
    df = spark.read.parquet(args.input)
    summary: dict = {"kind": args.kind}
    if args.kind == "hll":
        built = sk.hll_build(df, args.col, args.p, args.hash)
        if args.merge_with:
            built = sk.hll_merge(
                [spark.read.parquet(args.merge_with), built]
            )
        back, _ = write_stage(spark, built, args.output)
        row = sk.hll_estimate(back, args.p).collect()[0]
        summary.update(
            {"estimate": round(row["estimate"], 1),
             "zero_registers": row["n_zero_registers"]}
        )
    else:
        built = sk.cms_build(df, args.col, args.width, args.depth,
                             hash_impl=args.hash)
        if args.merge_with:
            built = sk.cms_merge(
                [spark.read.parquet(args.merge_with), built]
            )
        back, seen = write_stage(spark, built, args.output, counters=_rows())
        summary.update(seen)
        if args.query:
            items = local_frame(
                spark, [(q,) for q in args.query], f"{args.col} string"
            )
            got = sk.cms_query(
                back, items, args.col, args.width, args.depth, args.hash,
            )
            summary["est"] = {
                r["value"]: r["est"] for r in got.collect()
            }
    return summary


def cmd_robots(args) -> dict:
    """Crawl-politeness lane: parse robots.txt bodies (host, body) into
    the per-host rules table, then gate the URL stream for --agent.
    Writes <output>/rules, <output>/sitemaps, and <output>/allowed (or
    /flagged with --mode flag)."""
    spark = _spark("deidcm_robots", args.shuffle_partitions)
    from deidcm_spark.operators.robots import parse_robots, robots_filter

    rules, sitemaps = parse_robots(spark.read.parquet(args.robots))
    rules, n_rules = write_stage(
        spark, rules, args.output + "/rules", rules=_rows()
    )
    write_stage(spark, sitemaps, args.output + "/sitemaps")
    urls = spark.read.parquet(args.input)
    flag = args.mode == "flag"
    _, seen = write_stage(
        spark, robots_filter(urls, rules, args.agent, mode=args.mode),
        args.output + ("/flagged" if flag else "/allowed"),
        allowed=F.count_if("allowed") if flag else _rows(),
    )
    # the gate reads urls twice (per-url verdict, join back): count apart
    n_in = urls.count()
    return {
        "urls": n_in,
        "allowed": seen["allowed"],
        "blocked": n_in - seen["allowed"],
        "rules": n_rules["rules"],
        "agent": args.agent,
    }


def cmd_heavyhitters(args) -> dict:
    """Boilerplate-mining lane: every word n-gram with >= --min-count
    exact occurrences, CMS-gated so the singleton tail never shuffles."""
    spark = _spark("deidcm_heavyhitters", args.shuffle_partitions)
    from deidcm_spark.operators.sketch import heavy_hitters

    back, seen = write_stage(spark, heavy_hitters(
        spark.read.parquet(args.input), args.min_count, n=args.n,
        width=args.width, depth=args.depth, hash_impl=args.hash,
    ), args.output, grams=_rows())
    top = back.orderBy(F.col("n_occurrences").desc(), "gram").limit(3).collect()
    return {
        **seen,
        "top": [[r["gram"], int(r["n_occurrences"])] for r in top],
    }


def cmd_curate(args) -> dict:
    """The full curation flow in one job: normalize → [PII scrub] →
    quality gate → [classifier gate] → line dedup → exact dedup →
    fixed-length packing, each stage materialized under
    <output>/<stage> with a drop-mass ledger."""
    spark = _spark("deidcm_curate", args.shuffle_partitions)
    from deidcm_spark.pipeline import curate

    pos = (
        spark.read.parquet(args.classifier_positive)
        if args.classifier_positive else None
    )
    return curate(
        spark, spark.read.parquet(args.input), args.output,
        seq_len=args.seq_len, min_line_chars=args.min_line_chars,
        nfc=args.nfc, hash_impl=args.hash, pii=args.pii,
        classifier_positive=pos, classifier_alpha=args.classifier_alpha,
    )


def cmd_zorder(args) -> dict:
    """Layout lane: rewrite a parquet dir clustered on the Z-order curve
    over --cols so file-level min/max prune multi-column predicates."""
    spark = _spark("deidcm_zorder", args.shuffle_partitions)
    from deidcm_spark.maintenance import zorder_rewrite

    return zorder_rewrite(
        spark, args.input, args.output, args.cols.split(","),
        n_files=args.files, bits=args.bits, method=args.method,
    )


def cmd_topk(args) -> dict:
    """Selection lane: keep the --k highest-scoring rows (or the top
    --fraction) WITHOUT a global sort — bucket counts → bounded driver
    prefix → boundary-bucket refinement → deterministic residue draw
    (operators/quantile.py)."""
    spark = _spark("deidcm_topk", args.shuffle_partitions)
    from deidcm_spark.operators.quantile import select_top_fraction, select_top_k

    if (args.k is None) == (args.fraction is None):
        raise SystemExit("topk: give exactly one of --k / --fraction")
    df = spark.read.parquet(args.input)
    if args.k is not None:
        out = select_top_k(df, args.k, score_col=args.score_col)
    else:
        out = select_top_fraction(df, args.fraction, score_col=args.score_col)
    _, seen = write_stage(
        spark, out, args.output, rows=_rows(), lo=F.min(args.score_col)
    )
    lo = seen["lo"]
    return {
        "rows": seen["rows"],
        "min_score": None if lo is None else round(float(lo), 6),
    }


def cmd_snapdiff(args) -> dict:
    """CDC lane: diff two corpus snapshots by document fingerprint and
    write <output>/diff (added/removed/changed) plus <output>/reprocess
    (the new-snapshot slice the pipeline must actually re-touch)."""
    spark = _spark("deidcm_snapdiff", args.shuffle_partitions)
    from deidcm_spark.operators.cdc import select_reprocess, snapshot_diff

    new = spark.read.parquet(args.input)
    diff, seen = write_stage(
        spark,
        snapshot_diff(spark.read.parquet(args.old), new,
                      text_col=args.text_col),
        args.output + "/diff",
        **{c: F.count_if(F.col("change") == c)
           for c in ("added", "removed", "changed")},
    )
    _, rp = write_stage(spark, select_reprocess(new, diff),
                        args.output + "/reprocess", reprocess=_rows())
    return {**seen, **rp}


def cmd_pq(args) -> dict:
    """Embedding-compression lane: train PQ codebooks, write the codes
    table (<output>/codes) and the codebook table (<output>/codebook —
    (sub, code, centroid) rows, re-attachable for later searches); with
    --query-id also run an ADC top-k search with exact rerank and report
    the neighbor ids.  --nlist N switches to IVF-PQ (coarse inverted
    lists + residual PQ): codes rows gain list_id, the coarse centroids
    land in <output>/coarse, and searches probe --nprobe lists."""
    spark = _spark("deidcm_pq", args.shuffle_partitions)
    from deidcm_spark.operators import pq as pqop
    from deidcm_spark.schema import local_frame

    emb = spark.read.parquet(args.input)
    coarse = None
    if args.nlist:
        coarse, books = pqop.ivfpq_train(
            emb, nlist=args.nlist, m=args.m, ksub=args.ksub,
            lloyd_iters=args.iters, normalize=args.normalize,
        )
        write_stage(spark, local_frame(
            spark,
            [(i, c) for i, c in enumerate(coarse)],
            "list_id int, centroid array<double>",
        ), args.output + "/coarse")
        enc = pqop.ivfpq_encode(emb, coarse, books, normalize=args.normalize)
    else:
        books = pqop.pq_train(
            emb, m=args.m, ksub=args.ksub, lloyd_iters=args.iters,
            normalize=args.normalize,
        )
        enc = pqop.pq_encode(emb, books, normalize=args.normalize)
    rows = [
        (s, c, books[s][c])
        for s in range(len(books))
        for c in range(len(books[s]))
    ]
    write_stage(spark, local_frame(
        spark, rows, "sub int, code int, centroid array<double>"
    ), args.output + "/codebook")
    codes, seen = write_stage(spark, enc, args.output + "/codes", rows=_rows())
    summary = {
        **seen,
        "m": len(books),
        "ksub": len(books[0]),
    }
    if args.nlist:
        summary["nlist"] = len(coarse)
    if args.query_id is not None:
        q = emb.filter(f"vec_id = {int(args.query_id)}").head()
        if q is None:
            raise SystemExit(f"pq: --query-id {args.query_id} not in input")
        if args.nlist:
            got = pqop.ivfpq_search(
                codes, coarse, books, list(q["embedding"]), k=args.k,
                nprobe=args.nprobe, rerank=args.rerank or None, emb=emb,
                normalize=args.normalize,
            ).collect()
        else:
            got = pqop.pq_search(
                codes, books, list(q["embedding"]), k=args.k,
                rerank=args.rerank or None, emb=emb, normalize=args.normalize,
            ).collect()
        summary["neighbors"] = [int(r["vec_id"]) for r in got]
    return summary


def cmd_packseq(args) -> dict:
    """Sequence-packing lane: chunk the doc_id-ordered token stream into
    fixed --seq-len training sequences (one row per document piece)."""
    spark = _spark("deidcm_packseq", args.shuffle_partitions)
    from deidcm_spark.operators.textops import pack_sequences

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    # the packed stream is contiguous from token 0, so seq ids are dense
    # from 0: the sequence count is max(seq_id) + 1 (0 without pieces)
    return write_stage(
        spark, pack_sequences(docs, seq_len=args.seq_len), args.output,
        pieces=_rows(),
        sequences=F.coalesce(F.max("seq_id") + 1, F.lit(0)),
        tokens=_total("piece_tokens"),
    )[1]


def cmd_report(args) -> dict:
    """Dataset-card lane: per-(source, lang) volumes, mean quality
    signals, and the quality-gate keep rate."""
    spark = _spark("deidcm_report", args.shuffle_partitions)
    from deidcm_spark.operators.textops import corpus_report

    return write_stage(
        spark,
        corpus_report(spark.read.parquet(args.input),
                      with_sketches=args.sketches),
        args.output, slices=_rows(), docs=_total("n_docs"),
        kept=_total("kept_docs"),
    )[1]


def cmd_hostrank(args) -> dict:
    """Link-graph lane: a WARC records table (the `warc` subcommand's
    <output>/records) → host edges + PageRank.  Writes <output>/edges and
    <output>/ranks."""
    spark = _spark("deidcm_hostrank", args.shuffle_partitions)
    from deidcm_spark.operators.dedup import delete_path
    from deidcm_spark.operators.linkgraph import extract_links, host_rank

    recs = spark.read.parquet(args.input).select("url", "html")
    edges, seen = write_stage(
        spark, extract_links(recs), args.output + "/edges", edges=_rows()
    )
    rounds = args.output + "/_pr_rounds"
    _, ranked = write_stage(
        spark,
        host_rank(edges, iterations=args.iterations, checkpoint_dir=rounds),
        args.output + "/ranks",
        hosts=_rows(), top_host=F.max_by("host", "rank"),
    )
    delete_path(spark, rounds)  # the final round is copied into ranks
    return {**seen, **ranked}


def cmd_urldedup(args) -> dict:
    """URL-level dedup over a records table (doc_id, url, ...): writes
    <output>/decisions (every row + canonical_url/keep/n_occ) and
    <output>/kept (first occurrence per canonical URL only)."""
    spark = _spark("deidcm_urldedup", args.shuffle_partitions)
    from deidcm_spark.operators.linkgraph import url_dedup

    dec, seen = write_stage(
        spark, url_dedup(spark.read.parquet(args.input)),
        args.output + "/decisions", rows=_rows(), kept=F.count_if("keep"),
    )
    write_stage(spark, dec.filter("keep").drop("keep"), args.output + "/kept")
    return seen


def cmd_domainfilter(args) -> dict:
    """UT1-style domain blocklist filter: drops (or flags, --mode flag)
    documents whose URL host falls under a blocked domain.  --blocklist is
    a text file of one domain per line, or a parquet with a `domain`
    column."""
    spark = _spark("deidcm_domainfilter", args.shuffle_partitions)
    from deidcm_spark.operators.linkgraph import domain_filter

    df = spark.read.parquet(args.input)
    if args.blocklist.rstrip("/").endswith(".parquet"):
        bl = spark.read.parquet(args.blocklist)
    else:
        bl = spark.read.text(args.blocklist).select(
            F.trim("value").alias("domain")
        ).filter("domain != ''")
    observe = {"rows_out": _rows()}
    if args.mode == "flag":
        observe["blocked"] = F.count_if("blocked")
    _, seen = write_stage(
        spark, domain_filter(df, bl, mode=args.mode), args.output, **observe
    )
    # domain_filter reads df in two branches: count the input apart
    return {"rows_in": df.count(), **seen}


def cmd_mix(args) -> dict:
    """Deterministic corpus mixing: each --source name=path@weight corpus
    is sampled/upsampled by its weight (epochs + hash-uniform fraction)
    and the union written with source/epoch columns."""
    spark = _spark("deidcm_mix", args.shuffle_partitions)
    from deidcm_spark.operators.sampling import mix_corpora

    sources = []
    for spec in args.source:
        name, rest = spec.split("=", 1)
        path, weight = rest.rsplit("@", 1)
        sources.append((name, spark.read.parquet(path), float(weight)))
    # mix_corpora requires unique names; every row carries one of them
    _, per_source = write_stage(
        spark, mix_corpora(sources, salt=args.salt), args.output,
        **{n: F.count_if(F.col("source") == n) for n, _, _ in sources},
    )
    return {
        "rows": sum(per_source.values()),
        "per_source": {n: c for n, c in per_source.items() if c},
    }


def cmd_budget(args) -> dict:
    """Token-budget selection: keep the highest-scoring documents until
    --budget tokens (greedy by score; bounded-driver bucket prefix, only
    the boundary bucket resolves per-document)."""
    spark = _spark("deidcm_budget", args.shuffle_partitions)
    from deidcm_spark.operators.sampling import select_token_budget

    return write_stage(spark, select_token_budget(
        spark.read.parquet(args.input), args.budget,
        score_col=args.score_col, token_col=args.token_col or None,
    ), args.output, docs=_rows(), tokens=_total("n_tokens"))[1]


def cmd_bm25index(args) -> dict:
    """Build the BM25 inverted index: postings (term, doc_id, tf, dl)
    written SORTED BY TERM (query-time IN-lists prune the scan) plus the
    one-row stats table."""
    spark = _spark("deidcm_bm25index", args.shuffle_partitions)
    from deidcm_spark.operators.retrieval import build_bm25_index

    postings, stats = build_bm25_index(spark.read.parquet(args.input))
    postings, seen = write_stage(
        spark, postings.sort("term"), args.output + "/postings",
        postings=_rows(),
    )
    _, st = write_stage(
        spark, stats, args.output + "/stats", n_docs=F.max("n_docs")
    )
    return {
        **seen,
        # DISTINCT cannot be observed: one query on the written postings
        "terms": postings.select("term").distinct().count(),
        "n_docs": int(st["n_docs"]),
    }


def cmd_bm25search(args) -> dict:
    """Query a built index: top-k (doc_id, score, n_terms_hit) written to
    --output and echoed in the summary."""
    spark = _spark("deidcm_bm25search", args.shuffle_partitions)
    from deidcm_spark.operators.retrieval import bm25_search

    hits, seen = write_stage(spark, bm25_search(
        spark.read.parquet(args.index + "/postings"),
        spark.read.parquet(args.index + "/stats"), args.query, k=args.k,
    ), args.output, hits=_rows())
    top = hits.orderBy(F.desc("score"), "doc_id").limit(3).collect()
    return {
        **seen,
        "top": [{"doc_id": r.doc_id, "score": r.score} for r in top],
    }


def cmd_qualitygate(args) -> dict:
    """Rule-cascade quality filter (Gopher/C4): one scan emits every
    signal plus keep/reasons; reports the drop-mass per rule so curation
    can see WHY documents were rejected."""
    spark = _spark("deidcm_qualitygate", args.shuffle_partitions)
    from deidcm_spark.operators.textops import quality_gate

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    # docs/kept ride the gate write: no counting pass over the output
    out, seen = write_stage(
        spark, quality_gate(docs), args.output,
        docs=_rows(), kept=F.count_if("keep"),
    )

    by_rule = {
        r["reason"]: r["n"]
        for r in out.select(F.explode("reasons").alias("reason"))
        .groupBy("reason").count().withColumnRenamed("count", "n").collect()
    }
    return {
        "docs": seen["docs"],
        "kept": seen["kept"],
        "dropped_by_rule": dict(sorted(by_rule.items())),
    }


def cmd_warc(args) -> dict:
    """Web-archive ingest lane: .warc/.warc.gz shard tree → the raw-
    document table the extraction/scrub/dedup lanes take.  Writes
    <output>/records (every response record: url, status, content type,
    decoded body) and <output>/documents (OK-HTML gate applied, source =
    registrable host)."""
    spark = _spark("deidcm_warc", args.shuffle_partitions)
    from deidcm_spark.warc import read_warc_documents, warc_to_documents

    recs = read_warc_documents(spark, args.input)
    # two writes on one parse: persist so each shard decodes once
    recs.persist()
    try:
        _, seen = write_stage(
            spark, recs, args.output + "/records", records=_rows()
        )
        _, docs = write_stage(
            spark, warc_to_documents(recs), args.output + "/documents",
            documents=_rows(),
        )
    finally:
        recs.unpersist()
    return {**seen, **docs}


def cmd_textstats(args) -> dict:
    """Text-analysis lane: token counts, quality score + flags, language
    id, fingerprints — ONE projection over one scan (textops.text_stats),
    no joins."""
    spark = _spark("deidcm_textstats", args.shuffle_partitions)
    from deidcm_spark.operators import textops

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    return {"docs": _write_counted(spark, textops.text_stats(docs), args.output)}


def cmd_ingest(args) -> dict:
    spark = _spark("deidcm_ingest", args.shuffle_partitions)
    if args.dcm:
        # binary DICOM tree → span table + media payload table (dicom2df lane)
        from deidcm_spark.sources import (
            documents_view,
            payloads_view,
            read_dcm_documents,
        )

        parsed = read_dcm_documents(spark, args.input,
                                    binary_vr=args.binary_vr)
        # two views = two actions: persist so the binaryFile scan +
        # Part-10 parse of every file runs once, not once per write
        parsed.persist()
        try:
            n_docs = _write_counted(spark, documents_view(parsed), args.output)
            write_stage(spark, payloads_view(parsed),
                        f"{args.output.rstrip('/')}_media")
        finally:
            parsed.unpersist()
    else:
        from deidcm_spark.ingest import documents_to_spans

        n_docs = _write_counted(
            spark, documents_to_spans(spark.read.parquet(args.input)), args.output
        )
    return {"docs": n_docs}


def cmd_export(args) -> dict:
    spark = _spark("deidcm_export", args.shuffle_partitions)
    docs = spark.read.parquet(args.input)
    if args.format == "dcm":
        # Part-10 binary sink (df2dicom's output_file_formats=["dcm"] lane)
        from deidcm_spark.dcm import export_dcm

        payloads = (
            spark.read.parquet(args.media) if args.media else None
        )
        export_dcm(docs, args.output, payloads, binary_vr=args.binary_vr,
                   transfer_syntax=args.transfer_syntax)
    elif args.format == "png":
        # real .png sink (dicom2png.py:77-80 parity, pure-Python codec);
        # input here is the 6-column media-payload table, not spans
        from deidcm_spark.png import export_png

        export_png(spark.read.parquet(args.media or args.input), args.output)
    else:
        from deidcm_spark.export import export_corpus

        export_corpus(docs, args.output)
    return {"out_dir": args.output, "format": args.format}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="deidcm_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, org_root=False, shuffles=True):
        sp.add_argument("--input", required=True)
        sp.add_argument("--output", required=True)
        if shuffles:  # the bucket-commit jobs size their one exchange themselves
            sp.add_argument("--shuffle-partitions", type=int, default=32)
        sp.add_argument("--salt", default="deidcm_spark")
        if org_root:
            sp.add_argument("--org-root", required=True)

    d = sub.add_parser("deid")
    common(d, org_root=True, shuffles=False)
    d.add_argument("--buckets", type=int, default=32)
    d.add_argument("--run-id", default="run0")
    d.add_argument("--date-mode", default="first_day_year",
                   choices=["first_day_year", "offset"])
    d.add_argument("--date-offset", type=int, default=100000)
    d.set_defaults(fn=cmd_deid)

    e = sub.add_parser("extract")
    common(e, shuffles=False)
    e.add_argument("--buckets", type=int, default=32)
    e.add_argument("--run-id", default="run0")
    e.set_defaults(fn=cmd_extract)

    s = sub.add_parser("scrub")
    common(s, org_root=True)
    s.add_argument("--names", default="")
    s.add_argument("--pii", action="store_true",
                   help="also scrub web PII: Luhn-valid cards, phones, IPv4")
    s.set_defaults(fn=cmd_scrub)

    pl = sub.add_parser("pipeline")
    common(pl, org_root=True)
    pl.add_argument("--names", default="")
    pl.set_defaults(fn=cmd_pipeline)

    dd = sub.add_parser("dedup")
    common(dd)
    dd.add_argument("--threshold", type=float, default=0.8)
    dd.set_defaults(fn=cmd_dedup)

    ts = sub.add_parser("textstats")
    common(ts)
    ts.set_defaults(fn=cmd_textstats)

    ld = sub.add_parser("linededup")
    common(ld)
    ld.add_argument("--min-line-chars", type=int, default=1)
    ld.add_argument("--hash", default="fast", choices=["portable", "fast"])
    ld.set_defaults(fn=cmd_linededup)

    sb = sub.add_parser("substrdedup")
    common(sb)
    sb.add_argument("--window", type=int, default=32)
    sb.add_argument("--hash", default="fast", choices=["portable", "fast"])
    sb.set_defaults(fn=cmd_substrdedup)

    bl = sub.add_parser("bloom")
    common(bl)
    bl.add_argument("--filter", default="",
                    help="existing filter parquet: probe the input shard "
                         "against it and write <output>/fresh")
    bl.add_argument("--bits", type=int, default=1 << 23)
    bl.add_argument("--hashes", type=int, default=4)
    bl.add_argument("--hash", default="fast", choices=["portable", "fast"])
    bl.set_defaults(fn=cmd_bloom)

    pq = sub.add_parser("packseq")
    common(pq)
    pq.add_argument("--seq-len", type=int, default=2048)
    pq.set_defaults(fn=cmd_packseq)

    sk = sub.add_parser("sketch")
    common(sk)
    sk.add_argument("--kind", default="hll", choices=["hll", "cms"])
    sk.add_argument("--col", default="text")
    sk.add_argument("--p", type=int, default=12, help="HLL precision (2^p registers)")
    sk.add_argument("--width", type=int, default=16384)
    sk.add_argument("--depth", type=int, default=4)
    sk.add_argument("--hash", default="portable", choices=["portable", "fast"])
    sk.add_argument("--merge-with", default="",
                    help="existing sketch parquet to merge the new shard into")
    sk.add_argument("--query", nargs="*", default=[],
                    help="cms only: values to frequency-estimate")
    sk.set_defaults(fn=cmd_sketch)

    rb = sub.add_parser("robots")
    common(rb)
    rb.add_argument("--robots", required=True,
                    help="parquet of (host, body) robots.txt bodies")
    rb.add_argument("--agent", default="*")
    rb.add_argument("--mode", default="remove", choices=["remove", "flag"])
    rb.set_defaults(fn=cmd_robots)

    hh = sub.add_parser("heavyhitters")
    common(hh)
    hh.add_argument("--min-count", type=int, required=True)
    hh.add_argument("--n", type=int, default=3, choices=[1, 2, 3])
    hh.add_argument("--width", type=int, default=16384)
    hh.add_argument("--depth", type=int, default=4)
    hh.add_argument("--hash", default="fast", choices=["portable", "fast"])
    hh.set_defaults(fn=cmd_heavyhitters)

    cu = sub.add_parser("curate")
    common(cu)
    cu.add_argument("--seq-len", type=int, default=2048)
    cu.add_argument("--min-line-chars", type=int, default=1)
    cu.add_argument("--nfc", action="store_true")
    cu.add_argument("--hash", default="fast", choices=["portable", "fast"])
    cu.add_argument("--pii", action="store_true",
                    help="scrub web PII (cards/phones/IPv4) after normalize")
    cu.add_argument("--classifier-positive", default="",
                    help="positive-seed parquet: add the GPT-3 classifier "
                         "gate after the rule cascade")
    cu.add_argument("--classifier-alpha", type=float, default=9.0)
    cu.set_defaults(fn=cmd_curate)

    zo = sub.add_parser("zorder")
    common(zo)
    zo.add_argument("--cols", required=True,
                    help="comma-separated columns to cluster on (>= 2)")
    zo.add_argument("--files", type=int, default=16)
    zo.add_argument("--bits", type=int, default=16)
    zo.add_argument("--method", default="minmax", choices=["minmax", "cdf"])
    zo.set_defaults(fn=cmd_zorder)

    tk = sub.add_parser("topk")
    common(tk)
    tk.add_argument("--k", type=int, default=None)
    tk.add_argument("--fraction", type=float, default=None)
    tk.add_argument("--score-col", default="score")
    tk.set_defaults(fn=cmd_topk)

    sd = sub.add_parser("snapdiff")
    common(sd)
    sd.add_argument("--old", required=True,
                    help="previous-snapshot parquet (--input is the new one)")
    sd.add_argument("--text-col", default="text")
    sd.set_defaults(fn=cmd_snapdiff)

    pquant = sub.add_parser("pq")
    common(pquant)
    pquant.add_argument("--m", type=int, default=16)
    pquant.add_argument("--ksub", type=int, default=32)
    pquant.add_argument("--iters", type=int, default=1)
    pquant.add_argument("--normalize", action="store_true",
                        help="L2-normalize first (cosine-ranking semantics)")
    pquant.add_argument("--query-id", type=int, default=None)
    pquant.add_argument("--k", type=int, default=10)
    pquant.add_argument("--rerank", type=int, default=80)
    pquant.add_argument("--nlist", type=int, default=0,
                        help="IVF-PQ: number of coarse inverted lists")
    pquant.add_argument("--nprobe", type=int, default=4)
    pquant.set_defaults(fn=cmd_pq)

    wc = sub.add_parser("warc")
    common(wc)
    wc.set_defaults(fn=cmd_warc)

    qg = sub.add_parser("qualitygate")
    common(qg)
    qg.set_defaults(fn=cmd_qualitygate)

    ud = sub.add_parser("urldedup")
    common(ud)
    ud.set_defaults(fn=cmd_urldedup)

    dfp = sub.add_parser("domainfilter")
    common(dfp)
    dfp.add_argument("--blocklist", required=True,
                     help="text file (one domain per line) or parquet "
                          "with a `domain` column")
    dfp.add_argument("--mode", default="remove", choices=["remove", "flag"])
    dfp.set_defaults(fn=cmd_domainfilter)

    mx = sub.add_parser("mix")
    mx.add_argument("--source", action="append", required=True,
                    metavar="NAME=PATH@WEIGHT",
                    help="repeatable; e.g. --source web=/data/web@0.5")
    mx.add_argument("--output", required=True)
    mx.add_argument("--shuffle-partitions", type=int, default=32)
    mx.add_argument("--salt", default="mix")
    mx.set_defaults(fn=cmd_mix)

    bg = sub.add_parser("budget")
    common(bg)
    bg.add_argument("--budget", type=int, required=True,
                    help="token budget (greedy by score)")
    bg.add_argument("--score-col", default="score")
    bg.add_argument("--token-col", default="",
                    help="precomputed token-count column (default: "
                         "whitespace tokens of `text`)")
    bg.set_defaults(fn=cmd_budget)

    bi = sub.add_parser("bm25index")
    common(bi)
    bi.set_defaults(fn=cmd_bm25index)

    bs = sub.add_parser("bm25search")
    bs.add_argument("--index", required=True,
                    help="directory written by bm25index")
    bs.add_argument("--query", required=True)
    bs.add_argument("--k", type=int, default=10)
    bs.add_argument("--output", required=True)
    bs.add_argument("--shuffle-partitions", type=int, default=32)
    bs.set_defaults(fn=cmd_bm25search)

    hr = sub.add_parser("hostrank")
    common(hr)
    hr.add_argument("--iterations", type=int, default=10)
    hr.set_defaults(fn=cmd_hostrank)

    rp = sub.add_parser("report")
    common(rp)
    rp.add_argument("--sketches", action="store_true",
                    help="add per-slice HLL distinct-text estimates and "
                         "CDF p50/p90 token counts")
    rp.set_defaults(fn=cmd_report)

    sd = sub.add_parser("semdedup")
    common(sd)
    sd.add_argument("--threshold", type=float, default=0.95)
    sd.add_argument("--centroids", type=int, default=16)
    sd.add_argument("--codebook", default="",
                    help="existing codebook parquet (prune against the "
                         "same space as a prior run)")
    sd.set_defaults(fn=cmd_semdedup)

    ds = sub.add_parser("dsir")
    common(ds)
    ds.add_argument("--target", required=True,
                    help="target-distribution documents parquet")
    ds.add_argument("--k", type=int, required=True)
    ds.add_argument("--buckets", type=int, default=4096)
    ds.set_defaults(fn=cmd_dsir)

    bl = sub.add_parser("balance")
    common(bl)
    bl.add_argument("--k", type=int, required=True)
    bl.add_argument("--centroids", type=int, default=16)
    bl.add_argument("--policy", default="uniform",
                    choices=["uniform", "proportional", "temperature"])
    bl.add_argument("--alpha", type=float, default=0.5)
    bl.add_argument("--salts", type=int, default=1,
                    help=">1 = two-phase top-N for hot clusters")
    bl.set_defaults(fn=cmd_balance)

    qf = sub.add_parser("qualityfilter")
    common(qf)
    qf.add_argument("--positive", required=True,
                    help="curated positive-class documents parquet")
    qf.add_argument("--negative", default="",
                    help="negative-class parquet (default: --input itself, "
                         "the GPT-3 convention of crawl-as-negative)")
    qf.add_argument("--buckets", type=int, default=4096)
    qf.add_argument("--alpha", type=float, default=9.0)
    qf.add_argument("--normalize", action="store_true",
                    help="fastText-style per-gram mean head")
    qf.add_argument("--save-model", default="",
                    help="persist the trained weights+meta here (feeds "
                         "streaming.stream_quality_ingest)")
    qf.set_defaults(fn=cmd_qualityfilter)

    pp = sub.add_parser("ppl")
    common(pp)
    pp.add_argument("--reference", required=True,
                    help="clean reference-corpus parquet (trains the LM)")
    pp.add_argument("--buckets", type=int, default=65536)
    pp.add_argument("--alpha", type=float, default=0.1)
    pp.set_defaults(fn=cmd_ppl)

    bp = sub.add_parser("bpe")
    common(bp)
    bp.add_argument("--reference", default="",
                    help="train the tokenizer on this corpus instead of "
                         "the input")
    bp.add_argument("--merges", default="",
                    help="existing merges parquet (reuse a trained "
                         "tokenizer; skips training)")
    bp.add_argument("--n-merges", type=int, default=200)
    bp.set_defaults(fn=cmd_bpe)

    cp = sub.add_parser("compact")
    common(cp)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument(
        "--partition-by", default=None,
        help="comma-separated partition columns to preserve in the "
             "rewrite (REQUIRED for hive-partitioned tables like the "
             "streaming batch_id logs)",
    )
    cp.set_defaults(fn=cmd_compact)

    i = sub.add_parser("ingest")
    common(i)
    i.add_argument("--dcm", action="store_true",
                   help="input is a directory of .dcm files (binary DICOM)")
    i.add_argument("--binary-vr", default="strict", choices=["strict", "text"])
    i.set_defaults(fn=cmd_ingest)

    x = sub.add_parser("export")
    common(x)
    x.add_argument("--format", default="json", choices=["json", "dcm", "png"])
    x.add_argument("--media", default="",
                   help="media_payloads parquet (for --format dcm pixel data)")
    x.add_argument("--binary-vr", default="strict", choices=["strict", "text"],
                   help="US/UL/... cells: strict binary (standard) or "
                        "opaque-text (synthetic corpora)")
    x.add_argument("--transfer-syntax", default=None,
                   help="transcode every document to this syntax UID on "
                        "export (overrides each doc's declared 0002,0010); "
                        "e.g. 1.2.840.10008.1.2.1 to normalize a mixed "
                        "RLE/JPEG-LL/BE archive to Explicit VR LE")
    x.set_defaults(fn=cmd_export)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    summary = args.fn(args)
    print(json.dumps(summary))


if __name__ == "__main__":
    main(sys.argv[1:])
