"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design notes for 100 TB:

* every stage is JVM-side Spark SQL (codegen), no Python UDFs;
* MinHash uses LEXICOGRAPHIC MIN over salted md5 STRINGS — portable to the
  DuckDB oracle bit-for-bit (no engine-specific integer hash), and at scale
  swappable for ``xxhash64`` by changing one expression;
* LSH: 16 signatures → 4 bands × 4 rows; band key = md5 of the band slice;
  candidate generation is a self-equi-join on (band_idx, band_key) — a
  shuffle join on a short key, skew-safe because identical docs cap band
  cardinality at the duplicate-cluster size (AQE skew split handles hot
  bands);
* candidate pairs are verified with exact Jaccard via explode + count
  (map-side partial aggregation; no array cross products on the hot path).

Shared spec with the oracle: tokens = non-empty ``\\s+`` splits of
lower(text); shingles = distinct word 3-grams joined by single spaces;
``h = (first 15 hex chars of md5(shingle) as int) mod P``;
``minhash_i = min over shingles of (h * A_i + B_i) mod P`` — ONE md5 per
shingle + 16 affine maps (universal hashing), instead of 16 md5 passes
(the previous spec; this one measured ~2.5x faster end-to-end).  P =
2^31 - 1 keeps ``h * A_i`` inside int64 in both engines.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.operators.textops import NORM_FP, SHINGLES, TOKENS
from deidcm_spark.schema import hadoop_path, local_frame

N_MINHASH = 16
N_BANDS = 4
BAND_ROWS = 4

MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
# deterministic affine coefficients, identical literals in the DuckDB oracle
MINHASH_A = [(i * 2_654_435_761 + 1) % MINHASH_P for i in range(N_MINHASH)]
MINHASH_B = [(i * 40_503 + 17) % MINHASH_P for i in range(N_MINHASH)]

# shingle → bounded integer hash (both dialects agree bit-for-bit)
SHINGLE_HASH_SPARK = (
    f"cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint) % {MINHASH_P}"
)
SHINGLE_HASH_DUCK = (
    f"CAST(concat('0x', substr(md5(shingle), 1, 15)) AS bigint) % {MINHASH_P}"
)
# the at-scale variant the module docstring promises: xxhash64 is a JVM
# integer mix (no md5 string round-trip through hex), ~2x cheaper per
# shingle.  NOT oracle-portable (DuckDB has no xxhash64), so the contract
# queries stay on the md5 spec; pipelines choose hash_impl="fast".
# Both land in [0, MINHASH_P) so the affine signature maps are unchanged.
SHINGLE_HASH_FAST = f"pmod(xxhash64(shingle), {MINHASH_P})"

def _shingle_hash(hash_impl: str) -> str:
    if hash_impl == "portable":
        return SHINGLE_HASH_SPARK
    if hash_impl == "fast":
        return SHINGLE_HASH_FAST
    raise ValueError(f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}")


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest doc_id per group.

    One aggregate: ``min`` and ``count`` are algebraic, so the partial
    aggregate before the shuffle sends a fingerprint duplicated millions
    of times at most one row per map task — no salting needed."""
    return (
        df.select(F.expr(NORM_FP).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


def minhash_signatures(df: DataFrame, hash_impl: str = "portable") -> DataFrame:
    """doc_id + minhash[16] (universal-hash minima) + shingle count.

    Shape: explode(shingles) → project ONE md5-derived integer per shingle
    → hash-aggregate of 16 affine-map mins.  NOT 16 array_min expressions
    over the array column — Catalyst inlines the (collapsed) shingle
    construction into every signature expression (no CSE through
    higher-order functions), tokenizing each document 16×; the explode form
    hashes each shingle once and the mins combine map-side (partial
    aggregation), which is also the shuffle-light shape at corpus scale."""
    rows = df.select(
        "doc_id", F.explode_outer(F.expr(SHINGLES)).alias("shingle")
    ).withColumn("h", F.expr(_shingle_hash(hash_impl)))
    aggs = [
        F.min(
            (F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)
        ).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return rows.groupBy("doc_id").agg(
        F.count("shingle").cast("int").alias("n_shingles"), *aggs
    )


def signature_bands(sig: DataFrame) -> DataFrame:
    """Signature table → (doc_id, band_idx, band_key) bucket rows.

    Shared by the one-shot banding and the incremental index probe (which
    re-derives bands from PERSISTED signatures instead of rescanning the
    corpus text)."""
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]))
            for b in range(N_BANDS)
        ]
    )
    return (
        sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_key"))
    )


def lsh_bands(df: DataFrame, hash_impl: str = "portable") -> DataFrame:
    """Explode signatures into (doc_id, band_idx, band_key) bucket rows."""
    sig = minhash_signatures(df, hash_impl=hash_impl).filter("n_shingles > 0")
    return signature_bands(sig)


def lsh_candidate_pairs(
    df: DataFrame, max_band_size: int = 100, hash_impl: str = "portable",
    bands: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    HOT-BAND GUARD: a band bucket shared by more than ``max_band_size``
    documents is non-discriminative (low-entropy corpora collapse many docs
    into one band) and would make the self-join quadratic in a single
    partition — the LSH analogue of the hot-study skew the north rule calls
    out.  Such buckets are dropped before the join (standard LSH banding
    practice); true near-dups still meet in their other, sharper bands.
    The DuckDB oracle applies the identical cap.

    ``bands`` lets callers hand in a MATERIALIZED (persisted / table-backed)
    band frame: the hot-band count, the join's left side, and its right side
    all consume the band subtree, and Catalyst only reuses exchanges whose
    subtrees canonicalize identically — join-derived IsNotNull pushdown
    makes them differ, so an unmaterialized subtree is planned (and the
    minhash aggregation executed) up to twice (r5 plan pruning).
    """
    b = lsh_bands(df, hash_impl=hash_impl) if bands is None else bands
    # semantically a no-op (band cols are md5/posexplode outputs, never
    # NULL) but load-bearing for plan reuse: the join sides acquire
    # IsNotNull constraints the hot-band count subtree lacks, making the
    # three band-subtree uses canonicalize DIFFERENTLY and defeating
    # AQE exchange reuse — with the explicit filter on all of them the
    # minhash aggregation is planned (and run) once, not twice
    b = b.filter(
        "band_idx IS NOT NULL AND band_key IS NOT NULL AND doc_id IS NOT NULL"
    )
    small = (
        b.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_band_size)
        .drop("_n")
    )
    b = b.join(small, ["band_idx", "band_key"])
    left = b.alias("l")
    right = b.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# incremental near-dup index (the Bloom-gate pattern, for MinHash LSH)
# ---------------------------------------------------------------------------


def lsh_index_build(df: DataFrame, hash_impl: str = "portable") -> DataFrame:
    """Corpus shard → the persistable near-dup INDEX: its minhash
    signature table ``(doc_id, n_shingles, mh0..mh15)``.

    The incremental-crawl story (the near-dup analogue of
    ``bloom.bloom_build``'s history filter): signatures are ~100 bytes per
    document — the 100 TB corpus text reduces to a parquet table a
    thousandth its size, persisted once, and every later shard is
    adjudicated against it WITHOUT rescanning history text: banding
    (candidate generation) and signature-agreement Jaccard estimation
    (verification) both derive from signatures alone.  Empty documents
    (no shingles) carry no signature and never pair."""
    return minhash_signatures(df, hash_impl=hash_impl).filter("n_shingles > 0")


def lsh_index_merge(index: DataFrame, shard_sig: DataFrame) -> DataFrame:
    """Append a shard's signatures to the index.  ``distinct`` makes
    re-ingesting the same shard a no-op (the replay/idempotence contract
    shared with the Bloom partial log — signatures are pure functions of
    the text, so a re-crawl of unchanged content reproduces its row
    exactly).  A doc_id re-ingested with CHANGED content keeps both rows;
    callers that mutate documents in place must version or replace —
    crawl ingest keys doc_id on a content hash (``warc.py``), which makes
    that case unreachable there."""
    return index.unionByName(shard_sig).distinct()


def lsh_index_probe(
    index: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
    max_band_size: int = 100,
    hash_impl: str = "portable",
) -> DataFrame:
    """New shard vs (index ∪ itself) → near-dup pairs
    ``(doc_a, doc_b, est_jaccard)`` TOUCHING THE NEW SHARD — new×history
    and new×new, never history×history (already adjudicated when those
    shards arrived).

    Candidate generation is the standard banding equi-join, with the
    hot-band guard applied over the COMBINED (history + new) bucket
    counts so probe results equal the full-batch
    :func:`lsh_candidate_pairs` over the union restricted to pairs
    touching the shard (tests pin that equivalence).  Verification is the
    signature-agreement estimate ``est_jaccard = matching minhashes / 16``
    — the property that makes the index sufficient: history TEXT is never
    read again.  (1/16 granularity; pipelines wanting exact Jaccard on
    the survivors can feed the pairs to :func:`ngram_jaccard_pairs` with
    the shard + the matched history slice.)

    One shuffle for the new shard's signatures, one short-key join for
    banding, one join back to signatures for the estimate — at corpus
    scale the index side is read from parquet with (band/doc) pruning,
    never recomputed."""
    new_sig = lsh_index_build(new_docs, hash_impl=hash_impl)
    all_sig = lsh_index_merge(index, new_sig)
    nb = signature_bands(new_sig)
    ab = signature_bands(all_sig)
    counts = (
        ab.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_band_size)
        .drop("_n")
    )
    ab = ab.join(counts, ["band_idx", "band_key"])
    nb = nb.join(counts, ["band_idx", "band_key"])
    pairs = (
        nb.alias("l")
        .join(
            ab.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least("l.doc_id", "r.doc_id").alias("doc_a"),
            F.greatest("l.doc_id", "r.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    agree = (
        sum(
            F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
            for i in range(N_MINHASH)
        )
        / float(N_MINHASH)
    ).alias("est_jaccard")
    return (
        pairs.join(all_sig.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(all_sig.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", agree)
        .filter(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    hash_impl: str = "portable",
) -> DataFrame:
    """Exact Jaccard over word-3-gram sets for LSH candidate pairs.

    |A∩B| via explode+join+count, |A∪B| = |A|+|B|−|A∩B|; near-dup when
    jaccard ≥ threshold.  ``candidates`` lets callers hand in a
    MATERIALIZED pair list (localCheckpoint / table) so the minhash+banding
    subtree is not re-derived inside the verify plan.
    """
    cands = (
        lsh_candidate_pairs(df, hash_impl=hash_impl)
        if candidates is None
        else candidates
    )
    # |A∩B| via array_intersect on the per-doc shingle SETS (SHINGLES is
    # already array_distinct), not explode+join+groupBy: two joins instead
    # of three and no intersection-count shuffle — the whole Jaccard is one
    # JVM codegen expression per candidate pair (r5 plan pruning; values
    # bit-identical: same round(n_common/(n_a+n_b-n_common), 4)).  The
    # n_common > 0 filter preserves the old shape's row membership (a pair
    # with no common shingle never produced an inter row) and keeps the
    # ANSI-mode division away from an all-empty 0/0.  Shingle arrays ride
    # through the joins; candidate fan-out is hot-band-capped, so the
    # carried payload stays bounded at corpus scale.
    sets = df.select("doc_id", F.expr(SHINGLES).alias("sh_set"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    bset = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    return (
        cands.join(a, "doc_a").join(bset, "doc_b")
        .withColumn("n_common", F.expr("size(array_intersect(sh_a, sh_b))"))
        .filter(F.col("n_common") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "round(n_common / (size(sh_a) + size(sh_b) - n_common), 4)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def passage_dedup(df: DataFrame, chunk_tokens: int = 16) -> DataFrame:
    """Cross-document repeated-passage detection (RefinedWeb/CCNet 'exact
    substring' dedup family, chunk-granular): tokens split into
    consecutive ``chunk_tokens``-token chunks; a chunk text appearing in
    MORE THAN ONE distinct document is a shared passage.

    Returns (chunk_fp, n_docs, keep_doc_id) for shared chunks — the
    keep/strip policy downstream mirrors :func:`dedup_exact` (smallest
    doc_id owns the passage).  Shape: explode chunks → md5 → one hash
    aggregate with map-side combine; a chunk repeated INSIDE one doc
    counts once (distinct doc count).  At corpus scale the only shuffle is
    (chunk_fp → partial agg), the same skew-safe profile as exact dedup.
    """
    n_chunks = f"cast(ceil(size({TOKENS}) / {chunk_tokens}.0) as int)"
    chunks = (
        f"case when size({TOKENS}) = 0 then array() else "
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> array_join(slice({TOKENS}, i * {chunk_tokens} + 1, {chunk_tokens}), ' ')) end"
    )
    rows = df.select("doc_id", F.explode(F.expr(chunks)).alias("chunk"))
    return (
        rows.select("doc_id", F.md5(F.col("chunk")).alias("chunk_fp"))
        .distinct()  # in-doc repeats count once; rows now unique per (doc, fp)
        .groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over distinct tokens: per-bit majority vote of token hashes.

    Token hash = first 8 hex chars of md5(token) as bigint (portable).
    Shape: explode(distinct tokens) → hash the token ONCE → 16 per-bit sums
    in one hash aggregate (same rationale as minhash_signatures — an
    aggregate() lambda per bit would re-tokenize and re-md5 16×).

    ``bits`` is capped at 32: the token hash carries 32 bits of signal,
    so bits beyond it would be silently constant (every doc voting -1) —
    degenerate band keys downstream, not extra resolution.
    """
    if not 1 <= bits <= 32:
        raise ValueError(
            f"bits must be in [1, 32] (the token hash is 32-bit), got {bits}"
        )
    rows = df.select(
        "doc_id", F.explode_outer(F.expr(f"array_distinct({TOKENS})")).alias("t")
    ).withColumn(
        "h", F.expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)")
    )
    bit_sums = [
        F.sum(F.when(F.col("t").isNull(), 0).otherwise(
            (F.shiftright("h", j).bitwiseAND(F.lit(1))) * 2 - 1
        )).alias(f"b{j}")
        for j in range(bits)
    ]
    with_bits = rows.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        # bits <= 32, so every term fits a long with the sign bit clear;
        # shiftleft builds it in the long domain without a per-bit literal
        term = F.shiftleft(
            F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
            j,
        )
        sim = term if sim is None else sim + term
    return with_bits.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame, max_hamming: int = 3, bits: int = 32,
    max_band_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs with pigeonhole band blocking.

    Split the ``bits``-bit simhash into ``max_hamming + 1`` equal bands:
    any pair within ``max_hamming`` bit flips agrees EXACTLY on at least
    one band (pigeonhole), so candidates = pairs sharing a
    ``(band_idx, band_key)`` — an equi-join, never an O(n²) cross join —
    then the exact Hamming distance (``bit_count(a ^ b)``) filters.
    100% recall at the guaranteed radius, unlike probabilistic LSH.

    Token-less documents (empty or NULL text) never pair: they all
    collapse to simhash 0, so including them emits every pair of them as
    a hamming-0 "near-duplicate" — O(m²) rows through one hot band
    bucket (the minhash lane excludes no-shingle docs the same way; use
    exact dedup for empties).

    Scale: band keys carry ``bits / (max_hamming+1)`` bits, so ``bits``
    IS the blocking resolution — the 32-bit default gives 8-bit keys
    (256 buckets per band; 16 bits saturates on any shared-vocabulary
    corpus — measured ~340k candidate pairs from 1k docs; 32 is the max
    the 32-bit token hash supports).
    ``max_band_size`` additionally drops band buckets holding more
    members than the cap (the lsh_candidate_pairs hot-band guard) at the
    cost of the recall guarantee for documents inside dropped buckets.
    """
    n_bands = max_hamming + 1
    assert bits % n_bands == 0, "bits must split evenly into bands"
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sim = simhash(df.filter(F.expr(f"size({TOKENS}) > 0")), bits)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright("simhash", b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_idx", "bk.band_key")
    if max_band_size is not None:
        sizes = bands.groupBy("band_idx", "band_key").agg(
            F.count("*").alias("_bsz")
        )
        bands = (
            bands.join(sizes, ["band_idx", "band_key"])
            .filter(F.col("_bsz") <= max_band_size)
            .drop("_bsz")
        )
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("cast(bit_count(sa ^ sb) as int)").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_decisions(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Greedy near-dup KEEP/DROP assignment from verified Jaccard pairs:
    drop every document that near-duplicates a smaller-id document
    (pairs are emitted with doc_a < doc_b, so dropping the doc_b side
    keeps the smallest id of every adjacent pair).  One anti-join —
    the standard single-pass policy large pipelines apply per batch;
    full connected-component canonicalization (iterative label
    propagation) is deliberately out of scope for one query.

    SCALE NOTE: the LSH candidate pairs are persist()ed before the Jaccard
    verify — without that, Catalyst re-derives the whole shingle/minhash/
    banding subtree inside the verify join (it reuses only identical
    exchanges), which r2's PLANS.md measured at 61 exchanges for the
    one-shot form.  The cache substitutes an InMemoryRelation for the
    (tiny, hot-band-capped) pair subtree, so the verify plan starts from
    it.  persist — not localCheckpoint — on purpose (r3 review finding 4):
    it is LAZY (constructing the DataFrame costs nothing; plan_report-style
    explain does not fire a cluster job), its blocks are evictable under
    memory pressure, and ``returned_df.unpersist()`` /
    ``spark.catalog.clearCache()`` actually release them (a localCheckpoint
    RDD is pinned for the session: DataFrame.unpersist is a silent no-op on
    it).  A 100 TB pipeline persists the pair stages to real tables instead
    (the CLI ``dedup`` subcommand does) — same shape, durable.

    The BAND frame is persisted too (~4 short rows/doc): the hot-band
    count and both self-join sides read it, and without materialization
    the minhash aggregation is planned — and run — twice (pushdown-divergent
    subtrees defeat exchange reuse; see :func:`lsh_candidate_pairs`).

    Cache lifetime: the two persisted frames are INTERNAL (calling
    ``.unpersist()`` on the returned frame is a no-op — it was never
    cached), so they ride the returned frame as ``_persisted_deps``;
    release them with :func:`release_caches` once the decisions are
    materialized.  Unreleased they stay evictable-under-pressure but
    occupy storage for the session (a per-shard driver loop should
    release each iteration)."""
    bands = lsh_bands(df).persist()
    cands = lsh_candidate_pairs(df, bands=bands).persist()
    out = dedup_decisions_from_pairs(
        df, ngram_jaccard_pairs(df, threshold=threshold, candidates=cands)
    )
    out._persisted_deps = (bands, cands)  # type: ignore[attr-defined]
    return out


def release_caches(df: DataFrame) -> int:
    """Unpersist the internal frames an operator attached to its result
    (``_persisted_deps``) — call AFTER materializing the result.  Returns
    the number of frames released; 0 when the frame carries none."""
    deps = getattr(df, "_persisted_deps", ())
    for d in deps:
        d.unpersist()
    return len(deps)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a ``localCheckpoint()``-ed frame.

    ``DataFrame.unpersist()`` routes through the cacheManager, which has no
    entry for a localCheckpoint's LogicalRDD leaf — it is a silent no-op,
    leaving every superseded iteration frame pinned at MEMORY_AND_DISK for
    the session lifetime.  The materialized RDD hangs off the analyzed-plan
    leaf; unpersist THAT (non-blocking)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API (any
    scheme Spark can reach); a missing path is a no-op."""
    fs, p = hadoop_path(spark, path)
    fs.delete(p, True)


def _round_checkpoints(spark, checkpoint_dir: str | None):
    """``(ckpt, release)`` for an iterative operator's round state.

    Without ``checkpoint_dir``: ``localCheckpoint`` (executor-resident)
    and :func:`_release_local_checkpoint`.  With it: each ``ckpt`` writes
    the frame as parquet under ``<checkpoint_dir>/round_<i>`` and reads
    it back with the written schema (no schema-inference job), so
    lineage is truncated and the state survives executor loss;
    ``release`` deletes that round's directory.  Deliberately NOT
    ``sc.setCheckpointDir`` + ``df.checkpoint()``: that mutates global
    SparkContext state for every other caller, and nothing ever deletes
    the checkpoint files (``spark.cleaner.referenceTracking.
    cleanCheckpoints`` defaults to false)."""
    if checkpoint_dir is None:
        return (lambda d: d.localCheckpoint()), _release_local_checkpoint
    rounds = itertools.count()

    def ckpt(d: DataFrame) -> DataFrame:
        path = f"{checkpoint_dir}/round_{next(rounds)}"
        d.write.mode("overwrite").parquet(path)
        out = spark.read.schema(d.schema).parquet(path)
        out._round_path = path  # type: ignore[attr-defined]
        return out

    return ckpt, lambda d: delete_path(spark, d._round_path)


def neardup_components(
    df: DataFrame,
    threshold: float = 0.8,
    max_iter: int = 20,
    pairs: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over the verified near-dup graph: every
    document gets the MIN doc_id of its duplicate cluster as its canonical
    ``component`` — the full closure the greedy :func:`dedup_decisions`
    deliberately skips (a drops to b, b drops to c ⇒ a, b, c all label c's
    cluster min here).

    Iterative min-label propagation, the standard Spark shape for
    components: each round joins labels across the symmetric edge list and
    takes the elementwise min; rounds = graph diameter (duplicate clusters
    are shallow — near-dup graphs converge in a few rounds), with a
    ``max_iter`` cap and an exact convergence check (count of changed
    labels per round, one action on an aggregated frame).  Each round's
    frame is materialized so the lineage — and with it the replanned
    join DAG — stays O(1) per round instead of growing exponentially;
    superseded rounds are RELEASED (executor blocks freed / round files
    deleted) so storage stays O(1) too.  NB ``DataFrame.unpersist()`` is a
    silent no-op on a localCheckpoint-backed frame (the cacheManager has no
    entry for its LogicalRDD leaf) — release goes through the materialized
    RDD itself (r3 review finding 2).

    ``checkpoint_dir`` switches from ``localCheckpoint`` (executor-memory
    resident — an executor loss mid-iteration kills the job) to RELIABLE
    round state: each round is written as parquet under that directory
    (HDFS/object store on a real cluster) and read back — lineage
    truncated, iteration state survives executor loss, superseded rounds
    deleted eagerly (:func:`_round_checkpoints`).  The FINAL labels frame
    stays backed by its round directory — the caller owns
    ``checkpoint_dir`` cleanup once done consuming the result.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    _ckpt, _release = _round_checkpoints(df.sparkSession, checkpoint_dir)
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, threshold=threshold)
    edges = _ckpt(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    labels = _ckpt(df.select("doc_id", F.col("doc_id").alias("component")))
    changed = -1
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = _ckpt(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(F.col("component"), F.coalesce("nmin", F.col("component"))).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter("n.component != o.component")
            .count()
        )
        _release(labels)  # superseded round — free blocks / round files
        labels = new_labels
        if changed == 0:
            break
    else:
        # never exit with silently-wrong labels: a component whose diameter
        # exceeds max_iter would carry non-minimal ids downstream
        _release(edges)
        _release(labels)
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing) — raise max_iter (graph "
            f"diameter exceeds it)"
        )
    _release(edges)
    return labels


def dedup_decisions_from_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """KEEP/DROP assembly shared by the one-shot operator and the CLI's
    materialized-pairs path: drop every doc_b of a verified pair.

    ONE left join, not anti-join ∪ drops: the earlier two-branch union
    evaluated the ``drops`` subtree — and with it the whole shingle/verify
    pipeline upstream of ``pairs`` — once per branch (r4 PLANS.md measured
    the composed plan at 15 steady-state exchanges; Catalyst reuses only
    identical exchanges, and the two branches shuffle different columns).
    ``doc_b`` values always come from ``docs`` (pairs are emitted over it),
    so a left join + coalesce yields the identical keep/drop multiset with
    the verify subtree planned exactly once."""
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.select("doc_id").join(
        drops.withColumn("keep", F.lit(0)), "doc_id", "left"
    ).select("doc_id", F.coalesce("keep", F.lit(1)).alias("keep"))


def embedding_neardup_pairs_brute(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Brute-force O(n²) embedding near-dup pairs (theta self-join).

    TEST-SCALE RECALL ORACLE ONLY — the plan is a BroadcastNestedLoopJoin
    that never finishes at corpus scale; the shipped operator is the
    sign-LSH band-blocked :func:`embedding_neardup_pairs`.
    """
    from deidcm_spark.operators.similarity import COSINE_EXPR

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr(COSINE_EXPR.format(x="ea", y="eb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH band blocking.

    Same candidate-generation pattern as :func:`simhash_neardup_pairs`:
    ``n_planes`` deterministic random-hyperplane sign bits split into
    ``n_bands`` bands; candidates = pairs agreeing EXACTLY on at least one
    band (an equi-join on (band_idx, band_key) — never a cross join), then
    exact cosine verifies each candidate.  APPROXIMATE by construction:
    for a pair at cosine c the per-plane disagreement probability is
    arccos(c)/π, so with the 16-plane/4-band default the per-pair miss
    probability is ~1.1e-5 at c=0.999 but ~1.5e-2 at c=0.95 — at looser
    thresholds raise ``n_bands`` (16/8 → ~5.6e-6 at 0.95) or the plane
    count.  The driver oracle mirrors this exact banding in SQL (so the
    contract compares like with like); recall vs
    :func:`embedding_neardup_pairs_brute` is asserted in tests.

    At corpus scale raise ``n_planes`` (e.g. 64 planes / 4 bands → 65k
    buckets per band) so bucket occupancy — and with it the per-band
    candidate fan-out — stays bounded; the band_key doubles as the
    partition key of the candidate shuffle.
    """
    from deidcm_spark.operators.similarity import COSINE_EXPR, hyperplane_sign_expr

    assert n_planes % n_bands == 0, "planes must split evenly into bands"
    per_band = n_planes // n_bands
    # dim probe skips NULL embeddings (len(None) was a TypeError whenever
    # the first-scanned row's embedding was NULL; NULL rows elsewhere
    # contribute no band keys because their sign bits are NULL)
    head = (
        emb.filter(F.col("embedding").isNotNull()).select("embedding").head()
    )
    if head is None:  # empty corpus → empty pair table, not a crash
        return local_frame(
            emb.sparkSession, [], "id_a long, id_b long, cosine double"
        )
    dim = len(head["embedding"])
    bits = [hyperplane_sign_expr("embedding", p, dim) for p in range(n_planes)]
    band_keys = [
        "concat(" + ", ".join(
            f"cast({bits[b * per_band + j]} as string)" for j in range(per_band)
        ) + ")"
        for b in range(n_bands)
    ]
    bandrows = emb.filter(F.col("embedding").isNotNull()).select(
        # NULL embeddings never band: their sign bits fold to the all-zero
        # key (case-when over a NULL dot product), which would pair every
        # NULL row with every other — the simhash empty-doc failure shape
        F.col("vec_id").alias("bid"),
        F.posexplode(F.array(*[F.expr(k) for k in band_keys])).alias(
            "band_idx", "band_key"
        ),
    )
    left = bandrows.alias("l")
    right = bandrows.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.bid") < F.col("r.bid")),
        )
        .select(F.col("l.bid").alias("id_a"), F.col("r.bid").alias("id_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b", F.expr(COSINE_EXPR.format(x="ea", y="eb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )
