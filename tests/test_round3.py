"""Round-3 additions (VERDICT r2 action items + ADVICE fixes):

* pack_shards auto block sizing — driver offset table bounded at any
  corpus size, semantics still block-size-invariant;
* stratified_sample with quote-bearing stratum keys (bound literals,
  not f-string SQL);
* neardup_components: max_iter validation, reliable (on-disk) checkpoint
  path, per-round unpersist;
* dedup_decisions single-scan plan (candidate pairs materialized once —
  the minhash/banding subtree must not be re-derived in the verify join);
* media-gate arithmetic stays in bigint range for huge doc_ids (Spark
  wraps silently, DuckDB raises — both engines must agree).
"""

import pytest
from pyspark.sql import functions as F

from deidcm_spark.operators import dedup
from deidcm_spark.operators.textops import pack_shards, stratified_sample

SF = "/root/testdata/sf0.001"


def test_pack_shards_auto_block_size_matches_explicit(spark):
    """block_size=None (auto) must give the exact global-window assignment
    and pick a block size that bounds the driver-side offset table."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    ref = {r["doc_id"]: r["shard_id"]
           for r in pack_shards(d, capacity_tokens=512, block_size=10**9).collect()}
    auto = {r["doc_id"]: r["shard_id"]
            for r in pack_shards(d, capacity_tokens=512).collect()}
    assert auto == ref


def test_pack_shards_auto_bounds_driver_table(spark):
    """With a sparse billion-wide id range, auto sizing must cap the number
    of blocks at max_blocks (the r2 scale flaw: block_size=1000 over 10^12
    ids collected 10^9 offset rows driver-side)."""
    d = spark.range(0, 1000).select(
        (F.col("id") * 1_000_000_000).alias("doc_id"),
        F.lit("four tokens of text").alias("text"),
    )
    out = pack_shards(d, capacity_tokens=8, max_blocks=100)
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    # exact prefix-sum semantics survive the coarse auto blocks
    before = 0
    for r in rows:
        assert r["shard_id"] == before // 8
        before += r["n_tokens"]
    # and the block size the implementation ACTUALLY chooses (the same
    # helper pack_shards calls for block_size=None) bounds the driver-side
    # offset table: distinct non-empty blocks under that size <= max_blocks
    # (r3 review finding 5: the old assertion recomputed the formula in the
    # test — a regression to the r2 block_size=1000 default would have
    # passed it)
    from deidcm_spark.operators.textops import pack_shards_block_size

    bs = pack_shards_block_size(d, max_blocks=100)
    n_blocks = (
        d.select((F.col("doc_id") / bs).cast("long").alias("b"))
        .distinct()
        .count()
    )
    assert n_blocks <= 100, f"driver-side table would hold {n_blocks} rows"
    assert bs >= 999 * 1_000_000_000 // 100  # sparse span actually observed


def test_stratified_sample_quoted_stratum_key(spark):
    """A stratum value containing a single quote is data, not SQL."""
    d = spark.createDataFrame(
        [(i, "O'Brien" if i % 2 else "plain") for i in range(200)],
        "doc_id long, source string",
    )
    kept = stratified_sample(
        d, {"O'Brien": 10000, "plain": 0}, strata_col="source", default_bp=0
    )
    rows = kept.collect()
    assert rows and all(r["source"] == "O'Brien" for r in rows)
    assert len(rows) == 100  # 10000 bp keeps every O'Brien doc


def test_neardup_components_max_iter_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iter"):
        dedup.neardup_components(df, pairs=pairs, max_iter=0)


def test_neardup_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches iteration state to reliable on-disk
    checkpoints (survives executor loss on a real cluster); the labels
    must be identical to the localCheckpoint path."""
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    ckdir = str(tmp_path / "ck")
    comp = {r["doc_id"]: r["component"]
            for r in dedup.neardup_components(
                df, pairs=pairs, checkpoint_dir=ckdir).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7}
    import os
    assert any(os.scandir(ckdir))  # checkpoint data actually hit the dir


def test_round_checkpoint_is_one_write_job(spark, tmp_path):
    """A reliable round checkpoint runs its write and nothing else: the
    read-back passes the written schema (no schema-inference job), and
    release deletes the round directory."""
    import os

    ckpt, release = dedup._round_checkpoints(spark, str(tmp_path / "ck"))
    df = spark.range(10).selectExpr("id as doc_id", "id % 3 as component")
    sc = spark.sparkContext
    sc.setJobGroup("round_ckpt_jobs", "one round checkpoint")
    try:
        back = ckpt(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("round_ckpt_jobs")) == 1
    assert sorted(back.collect()) == sorted(df.collect())
    release(back)
    assert not os.path.exists(tmp_path / "ck" / "round_0")


def test_neardup_components_releases_iteration_state(spark):
    """Regression (r3 review finding 2): DataFrame.unpersist() is a silent
    no-op on localCheckpoint-backed frames, so superseded rounds used to
    stay pinned O(iterations).  After a run, the only surviving
    materialized RDD may be the returned labels frame itself — edges and
    every superseded round must be gone from executor storage."""
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    labels = dedup.neardup_components(df, pairs=chain, max_iter=10)
    assert {r["component"] for r in labels.collect()} == {0}
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # 7-round chain: >= 8 checkpointed frames existed; only the final
    # labels frame may remain
    assert after - before <= 1, (
        f"{after - before} RDDs still pinned after neardup_components"
    )


def test_dedup_decisions_single_scan_plan(spark):
    """The one-shot dedup_decisions must NOT re-derive the minhash/banding
    subtree inside the Jaccard verify: r2's plan had 61 exchanges; the
    persist()ed candidate list substitutes an InMemoryRelation for that
    subtree, so the verify plan starts from the cache.  Counted over the
    NUMBERED nodes of explain("formatted") — tree-string counting reprints
    the cached plan at every InMemoryTableScan occurrence."""
    import contextlib
    import io
    import re

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    out = dedup.dedup_decisions(d, threshold=0.5)
    out.collect()  # finalize AQE (and populate the candidate cache)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    nodes = re.findall(r"\(\d+\) (\w+)", buf.getvalue())
    assert "InMemoryTableScan" in nodes, "candidate cache was not substituted"
    n_exchanges = nodes.count("Exchange")
    # measured 17 with the persisted candidates; the remaining exchanges
    # are the inherent verify joins (shingles × sizes)
    assert n_exchanges <= 25, f"dedup_decisions plan has {n_exchanges} exchanges"


def test_asof_join_semantics(spark):
    """Hand-built timeline: latest right row with ts <= left ts per key;
    simultaneous right rows ARE visible (ASOF >=); no-match -> null."""
    from datetime import datetime as dt

    from deidcm_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 0, 10)),
         (2, 10, dt(2024, 1, 1, 0, 30)),
         (3, 10, dt(2024, 1, 1, 0, 5)),   # before any right row
         (4, 20, dt(2024, 1, 1, 1, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 10, dt(2024, 1, 1, 0, 10), 1.0),   # simultaneous with left#1
         (101, 10, dt(2024, 1, 1, 0, 20), 2.0),
         (102, 20, dt(2024, 1, 1, 0, 59), 3.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: (r["view_event_id"], r["view_value"])
        for r in asof_join(
            left, right, key="user_id", ts="ts",
            payload_cols=["event_id", "value"], seq_col="event_id",
            prefix="view_",
        ).collect()
    }
    assert out == {
        1: (100, 1.0),   # ts-equal right row visible
        2: (101, 2.0),   # latest prior, not first
        3: (None, None),  # nothing at-or-before
        4: (102, 3.0),
    }


def test_asof_join_randomized_vs_bruteforce(spark):
    """300x300 seeded random timelines (shared keys, duplicate timestamps,
    keyless lefts) — the union+window implementation must equal the O(n^2)
    definitional scan: argmax over right rows with ts <= left ts, largest
    seq winning ties."""
    import random
    from datetime import datetime as dt, timedelta

    from deidcm_spark.operators.asof import asof_join

    rng = random.Random(303)
    base = dt(2024, 1, 1)
    lefts = [
        (i, rng.randrange(12), base + timedelta(seconds=rng.randrange(500)))
        for i in range(300)
    ]
    rights = [
        (1000 + i, rng.randrange(12), base + timedelta(seconds=rng.randrange(500)),
         float(i))
        for i in range(300)
    ]
    expect = {}
    for eid, k, ts in lefts:
        cand = [r for r in rights if r[1] == k and r[2] <= ts]
        if cand:
            best = max(cand, key=lambda r: (r[2], r[0]))  # latest ts, max seq
            expect[eid] = (best[0], best[3])
        else:
            expect[eid] = (None, None)
    ldf = spark.createDataFrame(lefts, "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(
        rights, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: (r["a_event_id"], r["a_value"])
        for r in asof_join(
            ldf, rdf, key="user_id", ts="ts",
            payload_cols=["event_id", "value"], seq_col="event_id", prefix="a_",
        ).collect()
    }
    assert got == expect


def test_gopher_repetition_zero_exchange_plan(spark):
    """The repetition signals are per-row scalars; the plan must stay
    scan → project — any Exchange means the row-local rewrite regressed
    to a corpus-wide n-gram shuffle."""
    import contextlib
    import io
    import re

    from deidcm_spark.operators.textops import gopher_repetition

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = gopher_repetition(d)
    out.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    nodes = re.findall(r"\(\d+\) (\w+)", buf.getvalue())
    n_ex = nodes.count("Exchange") + nodes.count("BroadcastExchange")
    assert n_ex == 0, f"gopher_repetition plan has {n_ex} exchanges: {nodes}"


def test_asof_join_null_payload_not_torn(spark):
    """Regression (r3 review finding 1): when the LATEST right row holds a
    NULL in one payload column, that NULL must survive — per-column
    last(ignorenulls) would tear the row, mixing columns from different
    right rows.  DuckDB ASOF returns the whole latest row, nulls and all."""
    from datetime import datetime as dt

    from deidcm_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 0, 30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 10, dt(2024, 1, 1, 0, 10), 5.0),
         (101, 10, dt(2024, 1, 1, 0, 20), None)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    [row] = asof_join(
        left, right, key="user_id", ts="ts",
        payload_cols=["event_id", "value"], seq_col="event_id", prefix="v_",
    ).collect()
    # latest row is (101, NULL) — value must be NULL, not 5.0 from row 100
    assert (row["v_event_id"], row["v_value"]) == (101, None)


def test_asof_join_seq_col_outside_payload(spark):
    """Regression (r3 review finding 8): seq_col need not be listed in
    payload_cols — the tie-break column rides in the carried struct even
    when the caller doesn't want it in the output."""
    from datetime import datetime as dt

    from deidcm_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 0, 30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 10, dt(2024, 1, 1, 0, 20), 1.0),
         (101, 10, dt(2024, 1, 1, 0, 20), 2.0)],  # same ts: largest seq wins
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, key="user_id", ts="ts",
        payload_cols=["value"], seq_col="event_id", prefix="v_",
    )
    assert out.columns == ["event_id", "user_id", "ts", "v_value"]
    [row] = out.collect()
    assert row["v_value"] == 2.0


def test_gopher_repetition_signals(spark):
    """'spam spam spam spam' is pure repetition (top2=1, dup3=1); a
    no-repeat doc scores 0; a doc with < 2 tokens backfills 0."""
    from deidcm_spark.operators.textops import gopher_repetition

    d = spark.createDataFrame(
        [(1, "spam spam spam spam"),
         (2, "all tokens here are unique words"),
         (3, "one"),
         (4, "x y x y x y z z z"),
         (5, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["top2_frac"], r["dup3_frac"])
           for r in gopher_repetition(d).collect()}
    assert got[1] == (1.0, 1.0)
    assert got[2] == (0.2, 0.0)  # 5 distinct 2-grams, max 1 of 5
    assert got[3] == (0.0, 0.0)
    # doc 4: 2-grams [xy yx xy yx xy yz zz zz] -> top 'x y' 3/8
    assert got[4][0] == round(3 / 8, 4)
    # doc 4: 3-grams [xyx yxy xyx yxy xyz yzz zzz] -> dup mass 4/7
    assert got[4][1] == round(4 / 7, 4)
    assert got[5] == (0.0, 0.0)  # NULL text scores 0, not NULL


def test_passage_dedup_shared_chunks(spark):
    """A 16-token passage shared by two docs is flagged with the smaller
    doc_id as owner; unique chunks are not reported."""
    from deidcm_spark.operators.dedup import passage_dedup

    shared = " ".join(f"w{i}" for i in range(16))
    d = spark.createDataFrame(
        [(1, shared + " unique tail one two"),
         (2, shared),
         (3, "completely different words " * 4)],
        "doc_id long, text string",
    )
    rows = passage_dedup(d, chunk_tokens=16).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2 and rows[0]["keep_doc_id"] == 1


def test_decontaminate_flags_overlap(spark):
    from deidcm_spark.operators.textops import benchmark_ngrams, decontaminate

    d = spark.createDataFrame(
        [(0, "the quick brown fox jumps"),
         (10, "a quick brown fox appeared"),   # shares 'quick brown fox'
         (11, "nothing in common at all")],
        "doc_id long, text string",
    )
    bench = benchmark_ngrams(d, max_doc_id=1)
    got = {r["doc_id"]: r["n_hits"]
           for r in decontaminate(d.filter("doc_id >= 10"), bench).collect()}
    assert got == {10: 1}


def test_minhash_fast_hash_impl(spark):
    """hash_impl='fast' (xxhash64, the documented at-scale swap) must be
    deterministic, keep signatures in [0, P), and find every exact-dup
    pair on a doubled corpus (identical docs collide in ALL bands under
    any hash)."""
    from deidcm_spark.operators.dedup import MINHASH_P, lsh_candidate_pairs, minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    doubled = d.union(dup)

    s1 = sorted(map(tuple, minhash_signatures(d, hash_impl="fast").collect()))
    s2 = sorted(map(tuple, minhash_signatures(d, hash_impl="fast").collect()))
    assert s1 == s2  # deterministic across runs
    for row in s1[:50]:
        for v in row[2:]:
            assert 0 <= v < MINHASH_P

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(doubled, hash_impl="fast").collect()
    }
    for r in d.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in pairs

    with pytest.raises(ValueError, match="hash_impl"):
        minhash_signatures(d, hash_impl="md5")


def test_media_gate_no_bigint_overflow(spark):
    """(doc_id % 1000003) * 2246822519 stays < 2^63 for ANY bigint doc_id;
    Spark and DuckDB must agree on membership for huge ids (unreduced, the
    product overflows: Spark wraps, DuckDB raises)."""
    import duckdb

    from deidcm_spark.corpus import has_media

    huge = [2**62, 2**62 + 12345, 10**18, 4_300_000_000]
    df = spark.createDataFrame([(h,) for h in huge], "doc_id long")
    spark_in = {
        r["doc_id"]
        for r in df.filter(
            "(doc_id % 1000003) * 2246822519 % 1000 < 500"
        ).collect()
    }
    con = duckdb.connect()
    duck_in = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM (SELECT unnest(?::bigint[]) AS doc_id) "
            "WHERE (doc_id % 1000003) * 2246822519 % 1000 < 500",
            [huge],
        ).fetchall()
    }
    py_in = {h for h in huge if has_media(h, 0.5)}
    assert spark_in == duck_in == py_in
