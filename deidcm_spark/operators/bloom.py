"""Distributed Bloom filter for INCREMENTAL corpus dedup.

The document-level dedup lane (``dedup.py``) answers "which documents in
THIS corpus duplicate each other".  A continuously-crawled 100 TB pipeline
also needs the incremental question: "which documents of this NEW shard
were already ingested?" — without re-scanning the historical corpus per
shard.  The classic answer is a Bloom filter over the historical
fingerprints: ~1.2 GB of bits summarizes 10^9 documents at 1% false-positive
rate, and building/probing it are both embarrassingly parallel.

Representation: a DataFrame ``(word_idx: bigint, bits: bigint)`` — the
filter's bit array chunked into 64-bit words, ONLY non-zero words stored.
That makes the filter itself a first-class Spark table: built with one
hash aggregation (``bit_or`` is commutative/associative — partials combine
map-side), persisted as parquet, unioned across shards by re-aggregating,
and probed with a broadcast equi-join.  No driver-side bitmap assembly, no
Python on any hot path.

Sizing (standard Bloom math, documented for operators):
``fp_rate ≈ (1 - e^(-k·n/m))^k``; with ``k = 4`` hashes, ``m/n = 10``
bits/doc gives ~1.2% — so ``n_bits = 10 × expected corpus cardinality``,
e.g. 2^33 bits = 1 GiB of words for 10^9 docs.  The word table is at most
``n_bits / 64`` rows (non-zero words only), i.e. ~134M rows / ~2 GB for the
2^33 case — broadcastable is NOT guaranteed at that size; ``probe``
broadcasts only when the filter is small, otherwise it's a shuffle
equi-join on ``word_idx`` (uniform by construction — hash positions are
uniform, so no skew defense needed).

Shared spec with the test oracle (tests/test_bloom.py, hashlib
re-derivation):

* document fingerprint = ``fp_sql``, default the corpus-wide ``NORM_FP``
  (md5 hex of whitespace-normalized lower(text)) — the SAME key batch
  dedup and streaming dedup use, so "seen before" means exactly
  "dedup_exact would have matched it"; the URL-keyed crawl gate passes
  ``md5(canonical_url)`` instead;
* hash positions: ``pos_j = int(md5(fp || ':' || j)[:15 hex], 16) mod
  n_bits`` for ``j = 0..k-1`` (portable impl); ``fast`` swaps the md5 for
  ``xxhash64(fp, j)`` (JVM integer mix, not oracle-portable);
* word/bit split: ``word_idx = pos div 64``, ``mask = 1 << (pos mod 64)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.operators.textops import NORM_FP


# NULL fingerprints (NULL text) fold to a sentinel BEFORE hashing, so the
# filter keeps the documented contract "maybe_seen == dedup_exact would
# have matched" (dedup_exact groups NULL fps into ONE cluster).  Without
# it the two hash impls diverge in opposite directions: portable's
# md5(concat(NULL,...)) is NULL — a junk (NULL, NULL) word row on build
# and never-matching probes (every null-text doc 'definitely new'
# forever) — while fast's xxhash64(NULL, j) hashes only j, making every
# null-text doc collide with the first one.  \x1d cannot equal a real
# md5-hex fingerprint.
_NULL_FP = chr(0x1D)


def _nullsafe_fp(fp_sql: str) -> str:
    return f"coalesce(({fp_sql}), '{_NULL_FP}')"


def _pos_expr(j: int, n_bits: int, hash_impl: str) -> str:
    if hash_impl == "portable":
        return (
            f"cast(conv(substring(md5(concat(fp, ':', '{j}')), 1, 15), 16, 10) "
            f"as bigint) % {n_bits}"
        )
    if hash_impl == "fast":
        return f"pmod(xxhash64(fp, {j}), {n_bits})"
    raise ValueError(f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}")


def _positions(df: DataFrame, n_bits: int, n_hashes: int, hash_impl: str) -> DataFrame:
    """One row per (input row, hash j): carries every input column + pos."""
    pos = F.explode(
        F.array(*[F.expr(_pos_expr(j, n_bits, hash_impl)) for j in range(n_hashes)])
    )
    return df.select("*", pos.alias("pos")).select(
        "*",
        F.expr("pos div 64").alias("word_idx"),
        F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").alias("mask"),
    )


def _check_bloom(n_bits: int, n_hashes: int) -> None:
    # n_hashes=0 makes bool_and over no hits null, dropping every document;
    # n_bits=0 dies in a task on the modulo
    if n_bits < 1 or n_hashes < 1:
        raise ValueError(
            f"need n_bits >= 1 and n_hashes >= 1, got {n_bits} bits x {n_hashes}"
        )


def bloom_build(
    df: DataFrame,
    n_bits: int = 1 << 23,
    n_hashes: int = 4,
    hash_impl: str = "portable",
    fp_sql: str = NORM_FP,
) -> DataFrame:
    """Build the filter word table from a corpus ``(doc_id, text, ...)``.

    ONE hash aggregation: fingerprints → k bit positions (explode) →
    ``groupBy(word_idx).agg(bit_or(mask))``.  ``bit_or`` partials combine
    map-side, so the shuffle is at most ``n_bits/64`` rows regardless of
    corpus size.  Returns ``(word_idx: bigint, bits: bigint)``.

    Incremental growth: union two filters (same ``n_bits``/``n_hashes``)
    with ``bloom_merge``; or just run bloom_build over the new shard and
    merge — the historical corpus is never re-read.
    """
    _check_bloom(n_bits, n_hashes)
    fps = df.select(F.expr(_nullsafe_fp(fp_sql)).alias("fp"))
    return (
        _positions(fps, n_bits, n_hashes, hash_impl)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two word tables built with identical (n_bits, n_hashes)."""
    return (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    n_bits: int = 1 << 23,
    n_hashes: int = 4,
    hash_impl: str = "portable",
    broadcast_filter: bool = True,
    fp_sql: str = NORM_FP,
) -> DataFrame:
    """Probe new documents against a built filter.

    Returns ``(doc_id, maybe_seen: boolean)`` — ``true`` means EVERY one of
    the document's k bits is set (definitely-new documents are exactly the
    ``false`` rows; ``true`` rows are duplicates up to the filter's
    false-positive rate — route them to an exact verify against the
    historical store if the pipeline needs certainty).

    Shape: k positions per doc → left equi-join the word table (broadcast
    when ``broadcast_filter``; at multi-GB filter sizes pass ``False`` for
    a shuffle join on the uniform ``word_idx``) → ``bool_and`` of per-hash
    hits back on ``doc_id``.
    """
    _check_bloom(n_bits, n_hashes)
    probe_side = bloom if not broadcast_filter else F.broadcast(bloom)
    hits = (
        _positions(df.select("doc_id", F.expr(_nullsafe_fp(fp_sql)).alias("fp")), n_bits, n_hashes, hash_impl)
        .join(probe_side, "word_idx", "left")
        .select(
            "doc_id",
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
            ).alias("hit"),
        )
    )
    return hits.groupBy("doc_id").agg(F.bool_and("hit").alias("maybe_seen"))


def bloom_new_documents(
    df: DataFrame,
    bloom: DataFrame,
    n_bits: int = 1 << 23,
    n_hashes: int = 4,
    hash_impl: str = "portable",
    broadcast_filter: bool = True,
    fp_sql: str = NORM_FP,
) -> DataFrame:
    """The shard-ingest form: rows of ``df`` whose fingerprint is
    DEFINITELY not in the filter (semi-join on the probe verdict).  False
    positives only ever DROP a new document (never admit a duplicate) —
    the conservative direction for dedup."""
    fresh = bloom_probe(
        df, bloom, n_bits, n_hashes, hash_impl, broadcast_filter, fp_sql
    ).filter(~F.col("maybe_seen"))
    return df.join(fresh.select("doc_id"), "doc_id")
