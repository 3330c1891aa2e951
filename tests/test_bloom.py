"""Bloom-filter incremental dedup: the word table and every probe verdict
are checked bit-for-bit against a pure-Python hashlib re-derivation of the
shared spec (portable impl), plus semantic guarantees: zero false
NEGATIVES ever, false positives bounded, merge ≡ build-over-union."""

import hashlib
import re

import pytest

from deidcm_spark.operators.bloom import (
    bloom_build,
    bloom_merge,
    bloom_new_documents,
    bloom_probe,
)

N_BITS = 1 << 16
K = 4


# ---------- pure-Python oracle ----------

def norm_fp(text: str) -> str:
    return hashlib.md5(
        re.sub(r"\s+", " ", text.lower()).strip().encode("utf-8")
    ).hexdigest()


def positions(fp: str, n_bits: int = N_BITS, k: int = K) -> list[int]:
    return [
        int(hashlib.md5(f"{fp}:{j}".encode()).hexdigest()[:15], 16) % n_bits
        for j in range(k)
    ]


def oracle_words(texts: list[str], n_bits: int = N_BITS, k: int = K) -> dict[int, int]:
    words: dict[int, int] = {}
    for t in texts:
        for p in positions(norm_fp(t), n_bits, k):
            w, b = divmod(p, 64)
            words[w] = words.get(w, 0) | (1 << b)
    return words


def oracle_probe(text: str, words: dict[int, int]) -> bool:
    return all(
        words.get(p // 64, 0) >> (p % 64) & 1 for p in positions(norm_fp(text))
    )


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= 1 << 63 else x


# ---------- fixtures ----------

@pytest.fixture(scope="module")
def history(spark):
    rows = [(d, f"historical document number {d} body text") for d in range(300)]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def shard(spark):
    """New shard: 50 genuinely new docs + 50 exact re-crawls of history
    (one with different whitespace/case — NORM_FP must still match)."""
    rows = [(1000 + d, f"fresh shard doc {d} content") for d in range(50)]
    rows += [(2000 + d, f"historical document number {d} body text") for d in range(49)]
    rows.append((2099, "  Historical DOCUMENT   number 7 body\ttext "))
    return spark.createDataFrame(rows, "doc_id int, text string")


# ---------- tests ----------

def test_word_table_matches_oracle(spark, history):
    texts = [r.text for r in history.collect()]
    expected = {w: _signed64(b) for w, b in oracle_words(texts).items()}
    got = {r.word_idx: r.bits for r in bloom_build(history, N_BITS, K).collect()}
    assert got == expected


def test_probe_verdicts_match_oracle_and_no_false_negatives(spark, history, shard):
    words = oracle_words([r.text for r in history.collect()])
    bloom = bloom_build(history, N_BITS, K)
    got = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(shard, bloom, N_BITS, K).collect()
    }
    shard_rows = {r.doc_id: r.text for r in shard.collect()}
    assert got == {d: oracle_probe(t, words) for d, t in shard_rows.items()}
    # every re-crawled doc (2000-2099) MUST be flagged — Bloom filters
    # cannot false-negative; whitespace/case variants normalize to the
    # same fingerprint
    assert all(got[d] for d in shard_rows if d >= 2000)


def test_new_documents_conservative(spark, history, shard):
    bloom = bloom_build(history, N_BITS, K)
    fresh = {r.doc_id for r in bloom_new_documents(shard, bloom, N_BITS, K).collect()}
    assert all(d < 2000 for d in fresh)          # never admits a duplicate
    assert len(fresh) >= 45                       # FP rate small at 16 bits/doc


def test_merge_equals_build_over_union(spark, history, shard):
    a = bloom_build(history, N_BITS, K)
    b = bloom_build(shard, N_BITS, K)
    merged = {r.word_idx: r.bits for r in bloom_merge(a, b).collect()}
    union = {
        r.word_idx: r.bits
        for r in bloom_build(history.unionByName(shard), N_BITS, K).collect()
    }
    assert merged == union


def test_fast_impl_same_contract(spark, history, shard):
    """xxhash64 positions: different bits, same guarantees (no false
    negatives on re-crawls, word table within n_bits/64)."""
    bloom = bloom_build(history, N_BITS, K, hash_impl="fast")
    got = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(shard, bloom, N_BITS, K, hash_impl="fast").collect()
    }
    assert all(got[d] for d in got if d >= 2000)
    assert bloom.count() <= N_BITS // 64


def test_shuffle_join_probe_same_verdicts(spark, history, shard):
    bloom = bloom_build(history, N_BITS, K)
    a = bloom_probe(shard, bloom, N_BITS, K, broadcast_filter=True).collect()
    b = bloom_probe(shard, bloom, N_BITS, K, broadcast_filter=False).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_build_plan_single_aggregation(spark, history):
    df = bloom_build(history, N_BITS, K)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    # one shuffle: the bit_or aggregation (partials combine map-side)
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 2


# ---------- streaming Bloom-gated ingest ----------

def _docs(spark, rows):
    return spark.createDataFrame(
        [(d, t, "", "") for d, t in rows],
        "doc_id long, text string, lang string, source string",
    )


def test_unusable_sizes_rejected(spark, history, shard, tmp_path):
    """Unchecked, k=0 drops every new document silently (bool_and over no
    hits is null) and n_bits=0 dies in a task on the modulo."""
    from deidcm_spark.streaming import stream_bloom_ingest

    flt = bloom_build(history, N_BITS, K)
    for n_bits, k in ((N_BITS, 0), (0, K), (-8, K)):
        with pytest.raises(ValueError, match="n_hashes >= 1"):
            bloom_build(history, n_bits, k)
        with pytest.raises(ValueError, match="n_hashes >= 1"):
            bloom_new_documents(shard, flt, n_bits, k)
        with pytest.raises(ValueError, match="n_hashes >= 1"):
            stream_bloom_ingest(
                spark, str(tmp_path / "in"), str(tmp_path / "out"),
                str(tmp_path / "ckpt"), str(tmp_path / "filter"), n_bits, k,
            )


def test_stream_bloom_ingest_two_drops(spark, tmp_path):
    from deidcm_spark.streaming import read_bloom_log, stream_bloom_ingest
    from deidcm_spark.operators.bloom import bloom_probe

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    flt = str(tmp_path / "filter")
    # drop 1: two docs + a within-batch duplicate (same text, higher id)
    _docs(spark, [(1, "alpha body"), (2, "beta body"), (9, "alpha body")]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_bloom_ingest(spark, in_dir, out, ckpt, flt, n_bits=N_BITS)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}  # dup collapsed to the min doc_id
    # drop 2: a re-crawl of doc 2 plus one genuinely new doc
    _docs(spark, [(20, "beta body"), (3, "gamma body")]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_bloom_ingest(spark, in_dir, out, ckpt, flt, n_bits=N_BITS)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3}
    # the compacted log is interchangeable with a batch filter
    log = read_bloom_log(spark, flt)
    probe = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(
            _docs(spark, [(50, "beta body"), (51, "never seen")]),
            log, N_BITS, hash_impl="fast",
        ).collect()
    }
    assert probe == {50: True, 51: False}


def test_bloom_ingest_replay_emits_same_fresh_docs(spark, tmp_path):
    """The replay contract: run the SAME batch_id twice (second run = a
    replay after the first already wrote its filter partial).  The probe
    excludes the batch's own partial, so the replay must emit the same
    fresh rows — not an empty partition."""
    from deidcm_spark.streaming import _bloom_ingest_batch

    out = str(tmp_path / "out")
    flt = str(tmp_path / "filter")
    batch = _docs(spark, [(1, "one"), (2, "two")])
    for attempt in range(2):
        _bloom_ingest_batch(batch, 0, out, flt, N_BITS, 4, "fast")
        got = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert got == {1, 2}, f"attempt {attempt}"
    # and a LATER batch does see batch 0's fingerprints
    _bloom_ingest_batch(_docs(spark, [(7, "two"), (8, "three")]), 1, out, flt,
                        N_BITS, 4, "fast")
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 8}


def test_bootstrap_bloom_log(spark, tmp_path, history):
    from deidcm_spark.operators.bloom import bloom_build
    from deidcm_spark.streaming import _bloom_ingest_batch, bootstrap_bloom_log

    out = str(tmp_path / "out")
    flt = str(tmp_path / "filter")
    bootstrap_bloom_log(bloom_build(history, N_BITS, 4, "fast"), flt)
    shard = _docs(
        spark,
        [(5000, "historical document number 3 body text"), (5001, "brand new")],
    )
    _bloom_ingest_batch(shard, 0, out, flt, N_BITS, 4, "fast")
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {5001}


def test_bloom_ingest_corrupt_log_fails_loudly(spark, tmp_path):
    """Only PATH_NOT_FOUND may fall back to an empty filter: a filter dir
    that exists but is schema-less (here: empty — UNABLE_TO_INFER_SCHEMA)
    must fail the batch, not silently probe an empty filter and re-admit
    every historical duplicate."""
    import pytest
    from pyspark.errors import AnalysisException

    from deidcm_spark.streaming import _bloom_ingest_batch

    out = str(tmp_path / "out")
    flt = tmp_path / "filter"
    flt.mkdir()  # exists, but holds no parquet — not a valid log
    with pytest.raises(AnalysisException):
        _bloom_ingest_batch(_docs(spark, [(1, "one")]), 0, out, str(flt),
                            N_BITS, 4, "fast")


def test_null_fingerprints_keep_the_dedup_contract(spark):
    """NULL fps (NULL text) fold to a sentinel before hashing: after one
    null-text doc is built in, every null-text doc probes maybe_seen
    (dedup_exact groups NULL fps into ONE cluster) — and the word table
    never carries a junk (NULL, NULL) row.  Both hash impls agree."""
    hist = spark.createDataFrame([(1, None), (2, "real text")],
                                 "doc_id long, text string")
    new = spark.createDataFrame([(3, None), (4, "fresh content")],
                                "doc_id long, text string")
    for impl in ("portable", "fast"):
        filt = bloom_build(hist, n_bits=1 << 12, hash_impl=impl)
        assert filt.filter("word_idx IS NULL OR bits IS NULL").count() == 0
        got = {r["doc_id"]: r["maybe_seen"]
               for r in bloom_probe(new, filt, n_bits=1 << 12,
                                    hash_impl=impl).collect()}
        assert got[3] is True, impl   # null-text already ingested
        assert got[4] is False, impl  # genuinely new
