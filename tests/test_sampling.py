"""DSIR importance sampling vs an independent pure-Python oracle.

The oracle re-derives the full pipeline (tokenize → hashed 2-gram bucket
counts → Laplace-smoothed log-likelihood ratios → per-doc weights →
Gumbel top-k) from the written spec with hashlib/math only — no Spark,
no shared helpers — so an implementation bug can't hide in reused code.
"""

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from deidcm_spark.operators.sampling import (
    bucket_counts,
    importance_sample,
    importance_weights,
)

SF = "/root/testdata/sf0.001/documents.parquet"
N_BUCKETS = 512


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _grams(text: str) -> list[str]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_weights(raw_rows, target_rows):
    def counts(rows):
        c: dict[int, int] = {}
        total = 0
        for _, text in rows:
            for g in _grams(text):
                b = _h32(g) % N_BUCKETS
                c[b] = c.get(b, 0) + 1
                total += 1
        return c, total

    cr, tr = counts(raw_rows)
    ct, tt = counts(target_rows)
    out = {}
    for doc_id, text in raw_rows:
        logw = 0.0
        for g in _grams(text):
            b = _h32(g) % N_BUCKETS
            logw += math.log((ct.get(b, 0) + 1) / (tt + N_BUCKETS))
            logw -= math.log((cr.get(b, 0) + 1) / (tr + N_BUCKETS))
        out[doc_id] = round(logw, 6)
    return out


@pytest.fixture(scope="module")
def corpora(spark):
    docs = spark.read.parquet(SF)
    raw = docs.filter("doc_id % 5 != 0")
    target = docs.filter("doc_id % 5 = 0 and lang = 'en'")
    return raw, target


def test_weights_match_python_oracle(spark, corpora):
    raw, target = corpora
    got = {
        r["doc_id"]: r["logw"]
        for r in importance_weights(raw, target, n_buckets=N_BUCKETS).collect()
    }
    rows = lambda df: [(r["doc_id"], r["text"]) for r in df.collect()]
    want = _py_weights(rows(raw), rows(target))
    assert got.keys() == want.keys()
    off = {d: (got[d], want[d]) for d in want
           if abs(got[d] - want[d]) > 1e-4}
    assert not off, f"{len(off)} weight mismatches, e.g. {list(off.items())[:3]}"


def test_weights_leave_nothing_cached(spark, corpora):
    """The two bucket-count tables are localized, not persisted: no cached
    RDD outlives the call (counts compared — the session is shared)."""
    raw, target = corpora
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    importance_weights(raw, target, n_buckets=N_BUCKETS).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_sample_is_gumbel_topk_of_weights(spark, corpora):
    raw, target = corpora
    k = 40
    sel = importance_sample(raw, target, k, n_buckets=N_BUCKETS).collect()
    assert len(sel) == k
    # re-derive the selection from the (already-verified) weights + the
    # documented Gumbel spec
    w = {
        r["doc_id"]: r["logw"]
        for r in importance_weights(raw, target, n_buckets=N_BUCKETS).collect()
    }

    def key(doc_id):
        u = (_h32(f"{doc_id}:dsir") + 0.5) / 4294967296.0
        return round(-math.log(-math.log(u)) + w[doc_id], 6)

    want = sorted(w, key=lambda d: (-key(d), d))[:k]
    got = [r["doc_id"] for r in sel]
    assert got == want
    for r in sel:
        assert abs(r["gumbel_key"] - key(r["doc_id"])) <= 1e-6


def test_sample_is_deterministic_and_target_steered(spark, corpora):
    raw, target = corpora
    a = [r["doc_id"] for r in importance_sample(raw, target, 25,
                                                n_buckets=N_BUCKETS).collect()]
    b = [r["doc_id"] for r in importance_sample(raw, target, 25,
                                                n_buckets=N_BUCKETS).collect()]
    assert a == b
    # steering: an English-target sample must over-represent English docs
    docs = spark.read.parquet(SF).select("doc_id", "lang")
    base = docs.filter("doc_id % 5 != 0")
    base_en = base.filter("lang = 'en'").count() / base.count()
    sel = importance_sample(raw, target, 100, n_buckets=N_BUCKETS)
    sel_en = (sel.join(docs, "doc_id").filter("lang = 'en'").count()
              / sel.count())
    assert sel_en > base_en


def test_empty_and_missing_gram_docs_keep_neutral_weight(spark, corpora):
    _, target = corpora
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["logw"]
           for r in importance_weights(raw, target, n_buckets=N_BUCKETS).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == 0.0 and got[3] == 0.0  # no 2-grams → neutral


def test_bucket_table_is_bounded(spark, corpora):
    raw, _ = corpora
    assert bucket_counts(raw, 64).count() <= 64


def test_selection_plan_is_take_ordered(spark, corpora):
    raw, target = corpora
    df = importance_sample(raw, target, 10, n_buckets=N_BUCKETS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cap_per_source_deterministic_and_exact(spark):
    import hashlib

    from deidcm_spark.operators.textops import cap_per_source

    docs = spark.read.parquet(SF).select("doc_id", "source")
    got = cap_per_source(docs, 20).collect()
    per = {}
    for r in got:
        per.setdefault(r["source"], []).append(r["doc_id"])
    # cap respected, and sources smaller than the cap keep everything
    counts = {r["source"]: c for r, c in
              [(x, x["n"]) for x in docs.groupBy("source")
               .agg(F.count("*").alias("n")).collect()]}
    for s, ids in per.items():
        assert len(ids) == min(20, counts[s])
    # membership = first-20 by md5(doc_id) — re-derived independently
    all_rows = docs.collect()
    by_src = {}
    for r in all_rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    for s, ids in by_src.items():
        want = sorted(
            ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
        )[:20]
        assert sorted(per[s]) == sorted(want)
    # repartition-stable
    again = cap_per_source(docs.repartition(7), 20).collect()
    assert sorted((r["doc_id"], r["source"]) for r in again) == sorted(
        (r["doc_id"], r["source"]) for r in got
    )


def test_fast_hash_path_runs_and_steers(spark, corpora):
    """hash_impl='fast' (xxhash64 bucketing, at-scale path): same weight
    semantics under a different feature-space partition — deterministic,
    still target-steered, and rejects unknown impls."""
    raw, target = corpora
    a = [r["doc_id"] for r in importance_sample(
        raw, target, 25, n_buckets=N_BUCKETS, hash_impl="fast").collect()]
    b = [r["doc_id"] for r in importance_sample(
        raw, target, 25, n_buckets=N_BUCKETS, hash_impl="fast").collect()]
    assert a == b and len(a) == 25
    docs = spark.read.parquet(SF).select("doc_id", "lang")
    base = docs.filter("doc_id % 5 != 0")
    base_en = base.filter("lang = 'en'").count() / base.count()
    sel = importance_sample(raw, target, 100, n_buckets=N_BUCKETS,
                            hash_impl="fast")
    sel_en = (sel.join(docs, "doc_id").filter("lang = 'en'").count()
              / sel.count())
    assert sel_en > base_en
    with pytest.raises(ValueError, match="hash_impl"):
        importance_weights(raw, target, hash_impl="nope")


def test_cap_per_source_salted_identical(spark):
    """n_salts>1 (the hot-source scale path: bounded per-task sorts) must
    select EXACTLY the same documents as the single-window form."""
    from deidcm_spark.operators.textops import cap_per_source

    docs = spark.read.parquet(SF).select("doc_id", "source")
    plain = sorted((r["doc_id"], r["source"])
                   for r in cap_per_source(docs, 20).collect())
    for n_salts in (2, 4, 16):
        salted = sorted(
            (r["doc_id"], r["source"])
            for r in cap_per_source(docs, 20, n_salts=n_salts).collect()
        )
        assert salted == plain


def _py_perplexity(doc_rows, ref_rows, n_buckets, alpha):
    """Independent re-derivation of the hashed bigram LM scores."""
    def toks(t):
        return [x for x in re.split(r"\s+", t.lower()) if x]

    c1, c2 = {}, {}
    for _, t in ref_rows:
        ts = toks(t)
        for w in ts:
            c1[_h32(w) % n_buckets] = c1.get(_h32(w) % n_buckets, 0) + 1
        for a, b in zip(ts, ts[1:]):
            k = _h32(f"{a} {b}") % n_buckets
            c2[k] = c2.get(k, 0) + 1
    out = {}
    for doc_id, t in doc_rows:
        ts = toks(t)
        lps = []
        for a, b in zip(ts, ts[1:]):
            kb = _h32(f"{a} {b}") % n_buckets
            ku = _h32(a) % n_buckets
            lps.append(math.log(c2.get(kb, 0) + alpha)
                       - math.log(c1.get(ku, 0) + alpha * n_buckets))
        if lps:
            lp = sum(lps) / len(lps)
            out[doc_id] = (len(lps), round(lp, 6), round(math.exp(-lp), 6))
        else:
            out[doc_id] = (0, None, None)
    return out


def test_perplexity_matches_python_oracle(spark, corpora):
    from deidcm_spark.operators.sampling import perplexity_score

    raw, target = corpora
    nb, alpha = 1024, 0.1
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_avg"], r["ppl"])
        for r in perplexity_score(raw, target, n_buckets=nb,
                                  alpha=alpha).collect()
    }
    rows = lambda df: [(r["doc_id"], r["text"]) for r in df.collect()]
    want = _py_perplexity(rows(raw), rows(target), nb, alpha)
    assert got.keys() == want.keys()
    bad = {}
    for d, (n, lp, pp) in want.items():
        gn, glp, gpp = got[d]
        ok = gn == n and (
            (lp is None and glp is None)
            or (abs(glp - lp) <= 1e-4 and abs(gpp - pp) / max(pp, 1e-9) <= 1e-3)
        )
        if not ok:
            bad[d] = (got[d], want[d])
    assert not bad, f"{len(bad)} mismatches, e.g. {list(bad.items())[:3]}"


def test_perplexity_separates_reference_like_text(spark, corpora):
    """Documents drawn from the reference distribution itself must score
    lower perplexity than token-shuffled gibberish built from the same
    vocabulary (bigram structure is what the LM measures)."""
    from deidcm_spark.operators.sampling import perplexity_score

    _, target = corpora
    real = [r["text"] for r in target.limit(20).collect()]
    # deterministic derangement: reverse each document's token order
    fake = [" ".join(reversed(t.split())) for t in real]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(real)]
        + [(1000 + i, t) for i, t in enumerate(fake)],
        "doc_id long, text string",
    )
    res = {r["doc_id"]: r["ppl"]
           for r in perplexity_score(docs, target, n_buckets=4096).collect()}
    import statistics
    real_med = statistics.median(res[i] for i in range(len(real)))
    fake_med = statistics.median(res[1000 + i] for i in range(len(fake)))
    assert real_med < fake_med


def test_perplexity_no_bigram_docs_are_null(spark, corpora):
    from deidcm_spark.operators.sampling import perplexity_score

    _, target = corpora
    docs = spark.createDataFrame(
        [(1, "two tokens"), (2, "one"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in perplexity_score(docs, target).collect()}
    assert got[1]["n_bigrams"] == 1 and got[1]["ppl"] is not None
    for d in (2, 3):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["logprob_avg"] is None and got[d]["ppl"] is None


# ---------- general weighted sampling (Gumbel top-k, factored) ----------

def test_weighted_sample_matches_oracle(spark):
    import hashlib
    import math

    from deidcm_spark.operators.sampling import weighted_sample

    rows = [(d, 0.5 + (d * 7 % 13)) for d in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")

    def key(d, w, salt="wsample"):
        h = int(hashlib.md5(f"{d}:{salt}".encode()).hexdigest()[:8], 16)
        g = -math.log(-math.log((h + 0.5) / 4294967296.0))
        return g + math.log(w)

    want = sorted(rows, key=lambda r: (-key(*r), r[0]))[:10]
    got = weighted_sample(df, 10, "weight").collect()
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r in got:
        w = dict(rows)[r.doc_id]
        assert r.gumbel_key == pytest.approx(key(r.doc_id, w), abs=2e-6)


def test_weighted_sample_contracts(spark):
    from deidcm_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 3.0)],
        "doc_id long, weight double",
    )
    got = {r.doc_id for r in weighted_sample(df, 10).collect()}
    assert got == {1, 5}  # zero/negative/NULL weights never selected
    # deterministic; a different salt draws an independent sample
    big = spark.createDataFrame(
        [(d, 1.0) for d in range(200)], "doc_id long, weight double"
    )
    a = [r.doc_id for r in weighted_sample(big, 20).collect()]
    b = [r.doc_id for r in weighted_sample(big, 20).collect()]
    c = [r.doc_id for r in weighted_sample(big, 20, salt="other").collect()]
    assert a == b and set(a) != set(c)
    # the salt is interpolated into SQL expression text — a quote must be
    # a loud ValueError, never a parse error or a silently different
    # expression (the mix_corpora quote-injection rule)
    with pytest.raises(ValueError, match="salt"):
        weighted_sample(big, 5, salt="it's")


def test_weighted_sample_plan_is_topk(spark):
    from deidcm_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(d, 1.0 + d) for d in range(100)], "doc_id long, weight double"
    )
    q = weighted_sample(df, 5)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no full sort
