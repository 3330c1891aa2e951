"""Semantic tests for the training-data operators (dedup / similarity / text)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from deidcm_spark.operators import dedup, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles here"),
        (5, "le chat est sur la table et il regarde par la fenetre avec interet"),
        (6, "short text"),
        (7, ""),
        (8, "the the the and and of of to to in in is is you you that that it for"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n_tokens"] for r in textops.token_count(docs).collect()}
    assert got[6] == 2
    assert got[7] == 0
    assert got[1] == 13


def test_quality_score_ranges(spark, docs):
    for r in textops.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[5] == "fr"
    assert got[8] == "en"


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello   World  foo"), (2, "hello world FOO"), (3, "other text here")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r["fp_exact"] for r in textops.fingerprint(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_dedup_exact(spark, docs):
    out = dedup.dedup_exact(docs).collect()
    dup_groups = [r for r in out if r["n_dupes"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_doc_id"] == 1
    assert dup_groups[0]["n_dupes"] == 2


def test_minhash_identical_docs_same_signature(spark, docs):
    sig = {r["doc_id"]: [r[f"mh{i}"] for i in range(dedup.N_MINHASH)]
           for r in dedup.minhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    # near-dup: most signature positions agree
    agree = sum(a == b for a, b in zip(sig[1], sig[3]))
    assert agree >= dedup.N_MINHASH // 2
    assert sig[1] != sig[4]


def test_lsh_finds_exact_and_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_ngram_jaccard(spark, docs):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0
    if (1, 3) in out:
        assert 0.3 < out[(1, 3)] < 1.0


def test_simhash_near_dup_close(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[3]) <= 4
    assert hamming(sh[1], sh[4]) >= 4


@pytest.fixture(scope="module")
def emb(spark):
    import math
    rows = []
    for i in range(50):
        base = [math.sin(0.1 * (i + 1) * (d + 1)) for d in range(8)]
        rows.append((i, [float(x) for x in base], i % 3))
    # vec 50 = exact copy of vec 0
    rows.append((50, rows[0][1], 0))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")


def test_ann_brute_force_topk(spark, emb):
    q = similarity.query_vector(emb, 0)
    top = similarity.ann_brute_force(emb, q, k=3).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and top[0]["cosine"] == 1.0
    assert 50 in ids[:2]  # the exact copy


def test_ann_threshold_membership(spark, emb):
    q = similarity.query_vector(emb, 0)
    hits = {r["vec_id"] for r in similarity.ann_threshold(emb, q, 0.9999).collect()}
    assert {0, 50} <= hits


def test_ann_lsh_recall(spark, emb):
    q = similarity.query_vector(emb, 0)
    exact = [r["vec_id"] for r in similarity.ann_brute_force(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in similarity.ann_lsh_bucketed(emb, q, k=5, n_planes=2).collect()]
    # the query's own bucket must contain the query itself and its exact copy
    assert 0 in approx and 50 in approx
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.4


def test_embedding_neardup(spark, emb):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.embedding_neardup_pairs(emb, 0.9999).collect()}
    assert (0, 50) in pairs


def test_ann_ivf_recall_and_determinism(spark, emb):
    q = similarity.query_vector(emb, 0)
    cents1 = similarity.ivf_centroids(emb, n_centroids=4)
    cents2 = similarity.ivf_centroids(emb, n_centroids=4)
    assert cents1 == cents2  # hash-sampled init + Lloyd pass are deterministic
    exact = [r["vec_id"] for r in similarity.ann_brute_force(emb, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ann_ivf(
            emb, q, k=5, n_centroids=4, nprobe=2, centroids=cents1
        ).collect()
    ]
    assert 0 in approx and 50 in approx  # query + its exact copy found
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.6
    # probing ALL lists must recover brute force exactly
    full = [
        r["vec_id"]
        for r in similarity.ann_ivf(
            emb, q, k=5, n_centroids=4, nprobe=4, centroids=cents1
        ).collect()
    ]
    assert full == exact


def test_simhash_neardup_pairs(spark, docs):
    d = docs.select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    pairs = dedup.simhash_neardup_pairs(d.union(dup), max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    # every exact duplicate pair of a TOKENIZABLE doc is found at hamming
    # 0 (pigeonhole guarantee); token-less docs (doc 7: empty text) never
    # pair — they all collapse to simhash 0 and would pair O(m²) through
    # one hot band (exact dedup owns empties)
    for i in [r["doc_id"] for r in d.filter("text != ''").collect()]:
        assert got.get((i, i + 1000)) == 0, f"missing dup pair {i}"
    assert not any(7 in (a, b) or 1007 in (a, b) for a, b in got)
    assert all(h <= 3 for h in got.values())
    # the 32-bit token hash caps the signature width — wider would be
    # silently constant upper bits (degenerate band keys), so it raises
    with pytest.raises(ValueError, match="32"):
        dedup.simhash(d, bits=64)
    sims = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(d, bits=32).collect()}
    assert sims[1] == sims[2]
    assert any(v >> 31 for v in sims.values())  # top hash bits carry signal
    # hot-band cap: capping at 1 drops every shared bucket -> no pairs
    assert dedup.simhash_neardup_pairs(
        d.union(dup), max_hamming=3, max_band_size=1
    ).count() == 0


def test_deterministic_split_and_sample(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = {r["doc_id"]: r["split"] for r in textops.deterministic_split(d, 1500).collect()}
    s2 = {r["doc_id"]: r["split"] for r in textops.deterministic_split(d, 1500).collect()}
    assert s1 == s2  # pure function of doc_id
    n_val = sum(1 for v in s1.values() if v == "val")
    assert 0.05 < n_val / len(s1) < 0.35  # ~15% +- hash noise at n=500
    # sample ⊆ corpus, stable under repartitioning
    a = {r["doc_id"] for r in textops.hash_sample(d, 2500).collect()}
    b = {r["doc_id"] for r in textops.hash_sample(d.repartition(13), 2500).collect()}
    assert a == b and 0 < len(a) < d.count()
    # monotone: a smaller threshold is a subset of a bigger one
    c = {r["doc_id"] for r in textops.hash_sample(d, 500).collect()}
    assert c <= a


# ---------- pack_sequences (fixed-length training-sequence packing) ----------

def _oracle_pack_sequences(docs: dict[int, str], seq_len: int):
    """Pure-Python concat-and-chunk: docs in doc_id order, whitespace
    tokens, pieces per (doc, sequence)."""
    import re as _re

    pieces = []
    before = 0
    for d in sorted(docs):
        toks = [x for x in _re.split(r"\s+", (docs[d] or "").lower()) if x != ""]
        n = len(toks)
        if n == 0:
            continue
        g = before
        while g < before + n:
            seq_id = g // seq_len
            end = min(before + n, (seq_id + 1) * seq_len)
            pieces.append((d, n, seq_id, g - seq_id * seq_len, g - before, end - g))
            g = end
        before += n
    return sorted(pieces)


def test_pack_sequences_matches_oracle(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs = {r.doc_id: r.text for r in d.collect()}
    for seq_len in (64, 1000):
        got = sorted(map(tuple, textops.pack_sequences(d, seq_len=seq_len).collect()))
        assert got == _oracle_pack_sequences(docs, seq_len), f"seq_len={seq_len}"


def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    out = textops.pack_sequences(d, seq_len=256).cache()
    try:
        # every sequence except the last is exactly full
        fills = {
            r.seq_id: r.fill
            for r in out.groupBy("seq_id").agg(F.sum("piece_tokens").alias("fill")).collect()
        }
        last = max(fills)
        assert all(v == 256 for s, v in fills.items() if s != last)
        assert set(fills) == set(range(last + 1))  # sequence ids are dense
        # pieces partition each document's tokens exactly
        per_doc = out.groupBy("doc_id", "n_tokens").agg(
            F.sum("piece_tokens").alias("s"),
            F.min("doc_start").alias("mn"),
            F.max(F.col("doc_start") + F.col("piece_tokens")).alias("mx"),
        )
        bad = per_doc.filter("s != n_tokens or mn != 0 or mx != n_tokens")
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_pack_sequences_block_size_invariant(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    base = sorted(
        map(tuple, textops.pack_sequences(d, seq_len=512, block_size=10**9).collect())
    )
    for bs in (7, 100, None):
        got = sorted(
            map(tuple, textops.pack_sequences(d, seq_len=512, block_size=bs).collect())
        )
        assert got == base, f"block_size={bs}"


def test_pack_sequences_empty_docs_emit_nothing(spark):
    d = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   "), (4, "d e")],
        "doc_id int, text string",
    )
    out = sorted(map(tuple, textops.pack_sequences(d, seq_len=4).collect()))
    # doc 1: tokens 0-2 (seq 0); doc 4: global 3 (seq 0) + global 4 (seq 1)
    assert out == [
        (1, 3, 0, 0, 0, 3),
        (4, 2, 0, 3, 0, 1),
        (4, 2, 1, 0, 1, 1),
    ]


@pytest.mark.parametrize("seq_len", [0, -2])
def test_pack_sequences_rejects_seq_len_below_one(spark, docs, seq_len):
    """seq_len 0 divided by zero at execution, a negative one packed
    negative pieces; both are refused when the frame is built."""
    with pytest.raises(ValueError, match="seq_len must be >= 1"):
        textops.pack_sequences(docs, seq_len=seq_len)


@pytest.mark.parametrize("capacity", [0, -2])
def test_pack_shards_rejects_capacity_below_one(spark, docs, capacity):
    with pytest.raises(ValueError, match="capacity_tokens must be >= 1"):
        textops.pack_shards(docs, capacity_tokens=capacity)


def test_pack_sequences_shuffled_order(spark):
    """order='shuffle': same pieces as the pure-Python re-derivation over
    the md5-keyed permutation; different seed -> different layout; same
    seed -> bit-identical; invariants hold."""
    import hashlib
    import re as _re

    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs = {r.doc_id: r.text for r in d.collect()}

    def key(doc_id, seed):
        return int(
            hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:15], 16
        )

    def oracle(seed, seq_len):
        pieces = []
        before = 0
        for did in sorted(docs, key=lambda x: (key(x, seed), x)):
            toks = [x for x in _re.split(r"\s+", (docs[did] or "").lower()) if x]
            n = len(toks)
            if n == 0:
                continue
            g = before
            while g < before + n:
                sid = g // seq_len
                end = min(before + n, (sid + 1) * seq_len)
                pieces.append((did, n, sid, g - sid * seq_len, g - before, end - g))
                g = end
            before += n
        return sorted(pieces)

    got = sorted(map(tuple, textops.pack_sequences(
        d, seq_len=256, order="shuffle", seed=7
    ).collect()))
    assert got == oracle(7, 256)
    again = sorted(map(tuple, textops.pack_sequences(
        d, seq_len=256, order="shuffle", seed=7
    ).collect()))
    assert again == got                       # deterministic
    other = sorted(map(tuple, textops.pack_sequences(
        d, seq_len=256, order="shuffle", seed=8
    ).collect()))
    assert other != got and other == oracle(8, 256)  # seed selects layout
    # full-sequence invariant holds in the shuffled order too
    out = textops.pack_sequences(d, seq_len=256, order="shuffle", seed=7)
    fills = {
        r.seq_id: r.fill
        for r in out.groupBy("seq_id").agg(F.sum("piece_tokens").alias("fill")).collect()
    }
    last = max(fills)
    assert all(v == 256 for s, v in fills.items() if s != last)


# ---------- quality_gate (Gopher/C4 rule cascade) ----------

def test_quality_gate_equals_component_operators(spark):
    """The cascade's signals must equal the standalone operators' outputs
    (text_stats + gopher_repetition joined) and its decisions must equal
    re-applying the thresholds to those outputs in Python."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    stats = {r.doc_id: r.asDict() for r in textops.text_stats(d).collect()}
    gopher = {r.doc_id: r.asDict() for r in textops.gopher_repetition(d).collect()}
    got = {r.doc_id: r.asDict() for r in textops.quality_gate(d).collect()}
    g = textops.DEFAULT_GATES
    assert set(got) == set(stats)
    for did, row in got.items():
        s, gp = stats[did], gopher[did]
        for k in ("n_tokens", "avg_token_len", "repetition_ratio",
                  "digit_ratio", "upper_ratio", "stopword_ratio", "n_urls"):
            assert row[k] == s[k], (did, k)
        for k in ("top2_frac", "dup3_frac"):
            assert row[k] == gp[k], (did, k)
        expected = [name for name, bad in [
            ("too_few_tokens", s["n_tokens"] < g["min_tokens"]),
            ("too_many_tokens", s["n_tokens"] > g["max_tokens"]),
            ("avg_token_too_short", s["avg_token_len"] < g["min_avg_token_len"]),
            ("avg_token_too_long", s["avg_token_len"] > g["max_avg_token_len"]),
            ("repetitive_tokens", s["repetition_ratio"] > g["max_repetition_ratio"]),
            ("digit_heavy", s["digit_ratio"] > g["max_digit_ratio"]),
            ("upper_heavy", s["upper_ratio"] > g["max_upper_ratio"]),
            ("stopword_poor", s["stopword_ratio"] < g["min_stopword_ratio"]),
            ("top2gram_dominated", gp["top2_frac"] > g["max_top2_frac"]),
            ("dup3gram_heavy", gp["dup3_frac"] > g["max_dup3_frac"]),
            ("url_heavy", s["n_urls"] > g["max_urls"]),
        ] if bad]
        assert row["reasons"] == expected, did
        assert row["keep"] == (not expected), did


def test_quality_gate_per_rule_reasons(spark):
    # genuinely varied prose: stopwords interleaved with UNIQUE content
    # words (letter-suffixed, no digits) — every 2-/3-gram distinct
    clean = " ".join(
        w
        for i in range(40)
        for w in (
            "the",
            f"hous{chr(97 + i % 26)}{chr(97 + i // 26)}",
            "is",
            f"colr{chr(97 + i % 26)}{chr(97 + i // 26)}",
        )
    )
    corpus = spark.createDataFrame(
        [
            (1, clean),
            (2, "short doc"),                          # too_few_tokens
            (3, ("aa " * 200).strip()),                # repetitive + short-words + stopword_poor
            (4, clean + " 123456789 " * 60),           # digit_heavy
            (5, clean.upper()),                        # upper_heavy (+stopword_poor: stopwords are lowercase... they are lowercased by tokenizer)
            (6, clean + (" spam ham " * 120)),         # top2gram_dominated / dup3gram_heavy
            (7, clean + (" see http://x.example/a " * 3) + " http://y.example https://z.example http://w.example"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in textops.quality_gate(corpus).collect()}
    assert out[1].keep and out[1].reasons == []
    assert "too_few_tokens" in out[2].reasons
    assert {"repetitive_tokens", "avg_token_too_short"} <= set(out[3].reasons)
    assert "digit_heavy" in out[4].reasons
    # tokenizer lowercases, so uppercase prose still finds its stopwords —
    # the ratio rule must fire alone
    assert "upper_heavy" in out[5].reasons
    assert {"top2gram_dominated", "dup3gram_heavy"} & set(out[6].reasons)
    assert "url_heavy" in out[7].reasons


def test_quality_gate_overrides_and_unknown_key(spark):
    import pytest as _pytest

    d = spark.createDataFrame([(1, "tiny")], "doc_id int, text string")
    strict = textops.quality_gate(d, {"min_tokens": 1, "min_avg_token_len": 0.0,
                                      "min_stopword_ratio": 0.0})
    assert strict.first().keep
    with _pytest.raises(ValueError, match="unknown gate"):
        textops.quality_gate(d, {"min_tokenz": 1})


def test_quality_gate_zero_exchange_plan(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    q = textops.quality_gate(d)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan -> project, fully partition-local


def test_corpus_report_matches_recomputation(spark):
    import math

    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = {
        (r.source, r.lang): r.asDict() for r in textops.corpus_report(d).collect()
    }
    gate = {
        r.doc_id: r
        for r in textops.quality_gate(d.select("doc_id", "text")).collect()
    }
    dims = {(r.source, r.lang): [] for r in d.select("source", "lang").distinct().collect()}
    for r in d.select("doc_id", "source", "lang").collect():
        dims[(r.source, r.lang)].append(r.doc_id)
    assert set(rep) == set(dims)
    for key, ids in dims.items():
        row = rep[key]
        assert row["n_docs"] == len(ids)
        assert row["kept_docs"] == sum(1 for i in ids if gate[i].keep)
        assert row["total_tokens"] == sum(gate[i].n_tokens for i in ids)
        assert row["keep_rate"] == pytest.approx(
            sum(1 for i in ids if gate[i].keep) / len(ids), abs=1e-4
        )
        assert row["avg_quality"] == pytest.approx(
            sum(gate[i].quality for i in ids) / len(ids), abs=1e-4
        )


def test_normalize_text(spark):
    import unicodedata

    rows = [
        (1, "plain ascii stays"),
        (2, "curly ‘quotes’ and “doubles” — dash…"),
        (3, "nbsp and thin　ideographic"),
        (4, "zero​width‍gone"),
        (5, "ctrl\x00chars\x1fhere\x7f"),
        (6, "  spaced   out\t\ttabs  \n second line   kept \n"),
        (7, "étude composed"),  # e + combining accent
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.text for r in textops.normalize_text(d).collect()}
    assert got[1] == "plain ascii stays"
    assert got[2] == "curly 'quotes' and \"doubles\" - dash..."
    assert got[3] == "nbsp and thin ideographic"
    assert got[4] == "zerowidthgone"
    assert got[5] == "ctrl chars here"
    # space runs collapse, newlines preserved, ends trimmed
    assert got[6] == "spaced out tabs \n second line kept"
    # without nfc the combining sequence is untouched
    assert got[7].startswith("é")
    got_nfc = {r.doc_id: r.text for r in textops.normalize_text(d, nfc=True).collect()}
    assert got_nfc[7] == unicodedata.normalize("NFC", rows[6][1])
    assert got_nfc[2] == got[2]


def test_normalize_text_plan_is_codegen(spark):
    d = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    q = textops.normalize_text(d)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_corpus_report_with_sketches(spark):
    import math

    """with_sketches adds per-slice distinct-text HLL estimates and
    CDF-bracketed p50/p90 token counts; checked against exact per-slice
    recomputation (estimates within the sketches' own error bands)."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = {
        (r.source, r.lang): r.asDict()
        for r in textops.corpus_report(d, with_sketches=True).collect()
    }
    gate = {
        r.doc_id: r
        for r in textops.quality_gate(d.select("doc_id", "text")).collect()
    }
    slices: dict = {}
    for r in d.select("doc_id", "source", "lang", "text").collect():
        slices.setdefault((r.source, r.lang), []).append(r)
    assert set(rep) == set(slices)
    for key, rows in slices.items():
        row = rep[key]
        truth_distinct = len({r.text for r in rows})
        # p=12 HLL: ~1.6% stderr, but tiny slices take the linear-counting
        # path which is near-exact; allow 10%+1
        assert abs(row["distinct_texts_est"] - truth_distinct) <= 0.1 * truth_distinct + 1
        toks = sorted(gate[r.doc_id].n_tokens for r in rows)
        for q, col in ((0.5, "p50_tokens"), (0.9, "p90_tokens")):
            true_q = toks[math.ceil(q * len(toks)) - 1]
            # bucket width = 65536/4096 = 16 tokens; midpoint is within
            # half a bucket of the bracketing interval
            assert abs(row[col] - true_q) <= 8.0, (key, col, row[col], true_q)


def test_compression_signals_matches_zlib(spark):
    import zlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 40),  # compressible
        (2, "a1k9x qz7 mnop3 vw8 " * 3),                            # short noise
        (3, ""),                                                     # empty
        (4, None),                                                   # null
        (5, "buy now " * 500),                                       # spammy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bytes"], r["n_compressed"], r["compression_ratio"])
        for r in textops.compression_signals(df).collect()
    }
    for did, text in rows:
        if text is None:
            assert got[did] == (None, None, None)
            continue
        raw = text.encode("utf-8")
        if not raw:
            assert got[did] == (0, None, None)
            continue
        comp = len(zlib.compress(raw, 6))
        assert got[did] == (len(raw), comp, round(comp / len(raw), 4))
    # the signal separates: spam/boilerplate compresses far below noise
    assert got[5][2] < 0.1 < got[2][2]
    with pytest.raises(ValueError):
        textops.compression_signals(df, level=0)


def test_ann_ivf_zero_norm_centroid_guard(spark, emb):
    """A zero-norm centroid (zero seed embedding, or a Lloyd mean landing
    at zero) must not poison assignment: unguarded normalization made a
    NaN row and argmax sent EVERY vector to that cluster."""
    cents = similarity.ivf_centroids(emb, n_centroids=4)
    dim = len(cents[0])
    with_zero = [[0.0] * dim] + [list(c) for c in cents[:3]]
    q = similarity.query_vector(emb, 0)
    exact = [r["vec_id"] for r in similarity.ann_brute_force(emb, q, k=5).collect()]
    # probing ALL lists with the poisoned codebook still recovers brute force
    got = [
        r["vec_id"]
        for r in similarity.ann_ivf(
            emb, q, k=5, nprobe=4, centroids=with_zero
        ).collect()
    ]
    assert got == exact
    # and the corpus is NOT piled into the zero cluster
    assigned = emb.withColumn(
        "cluster", similarity._assign_udf(with_zero)(F.col("embedding"))
    )
    n_zero = assigned.filter("cluster = 0").count()
    assert n_zero < emb.count()


def test_ivf_centroids_empty_corpus_is_clear_error(spark, emb):
    with pytest.raises(ValueError, match="empty"):
        similarity.ivf_centroids(emb.limit(0), n_centroids=4)


def test_dedup_decisions_caches_releasable(spark, docs):
    """dedup_decisions' two internal persists ride the result as
    _persisted_deps; release_caches() frees them (unpersist on the
    returned frame itself was a silent no-op — it was never cached)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    out = dedup.dedup_decisions(docs.select("doc_id", "text"), threshold=0.5)
    out.collect()
    assert dedup.release_caches(out) == 2
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == before
    assert dedup.release_caches(docs) == 0  # frames without deps are a no-op


def test_quality_gate_rejects_null_text(spark):
    """A NULL-text document gates exactly like an empty one (rejected:
    too_few_tokens).  Before the coalesce every signal was NULL under
    ANSI, every rule comparison NULL, reasons compacted to [] and the
    empty document sailed through with keep=true."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox jumps over the lazy "
                                 "dog and runs away very fast today again")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.quality_gate(df).collect()}
    assert got[1]["keep"] is False and "too_few_tokens" in got[1]["reasons"]
    assert got[1]["reasons"] == got[2]["reasons"]
    assert got[1]["n_tokens"] == 0


_case_texts = st.lists(
    st.one_of(st.none(), st.text(alphabet=st.characters(max_codepoint=0x7F), max_size=24),
              st.text(max_size=24)),
    min_size=1, max_size=200,
)


@given(_case_texts)
@settings(max_examples=25, deadline=None)
def test_ascii_case_equals_lower_and_upper(spark, texts):
    """textops.ascii_case (the ICU-free lower-casing of TOKENS and NORM_FP,
    and media's upper-casing) equals Spark's lower() and upper() on
    arbitrary Unicode text and NULL."""
    from deidcm_spark.schema import local_frame

    df = local_frame(spark, list(enumerate(texts)), "i int, t string")
    differ = df.filter(
        f"NOT ({textops.ascii_case('t')} <=> lower(t)) "
        f"OR NOT ({textops.ascii_case('t', upper=True)} <=> upper(t))"
    )
    assert differ.collect() == []
