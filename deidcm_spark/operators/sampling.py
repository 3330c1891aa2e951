"""Importance resampling for training-data curation (DSIR-style).

Data Selection with Importance Resampling (Xie et al., 2023,
arXiv:2302.03169): score every raw document by how target-like it is
under a pair of hashed n-gram bag-of-words models, then sample documents
with probability proportional to the importance weight.  This is the
standard way a 100 TB web crawl gets steered toward a high-quality
target distribution (e.g. a curated reference corpus) without training
a classifier.

Spark-first decomposition — every stage is a bounded-state primitive:

1. **feature counts** (one hash aggregate per corpus): each document's
   hashed n-gram multiset collapses into ``n_buckets`` counters; the
   per-corpus distribution is ``n_buckets`` rows — driver/broadcast
   scale (like the IVF codebook), NEVER corpus scale, at any input size.
2. **log-likelihood ratio table**: Laplace-smoothed
   ``log((c_t[b]+1)/(T_t+B)) - log((c_r[b]+1)/(T_r+B))`` per bucket,
   computed from the two count tables — ``n_buckets`` rows, broadcast.
3. **per-doc weight**: explode grams → broadcast-join the ratio table →
   map-side-combined sum per doc.  ONE shuffle (the per-doc hash agg);
   the join side is the tiny table, so no corpus data moves for it.
4. **selection**: Gumbel top-k over ``logw + gumbel(hash(doc_id))`` —
   the Efraimidis–Spirakis weighted sample WITHOUT replacement, fully
   deterministic (the "noise" is a hash of the doc_id, so retries and
   engines agree bit-for-bit, per the repo-wide no-RNG invariant).
   Spark executes orderBy+limit as TakeOrderedAndProject: each partition
   keeps its local top-k, only k rows reach the driver.

All hashing defaults to the repo-wide md5-prefix convention (portable
to the DuckDB/pure-Python oracles); ``hash_impl="fast"`` swaps the gram
bucketing to xxhash64 (the dedup.py at-scale convention — JVM integer
mix, no hex round-trip) without changing weight semantics.  Tokens and
2-grams reuse the exact textops spec so the feature space matches the
other text operators.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.operators.textops import TOKENS, twograms_all_expr
from deidcm_spark.schema import local_frame

# first-8-hex-chars-of-md5 → bigint, same convention as textops.SPLIT_HASH
_H32 = "cast(conv(substring(md5({v}), 1, 8), 16, 10) as bigint)"


def _bucket_expr(n_buckets: int, hash_impl: str) -> str:
    """gram → bucket.  ``portable`` = the md5 spec the pure-Python oracle
    re-derives; ``fast`` = xxhash64 (JVM integer mix, no hex round-trip —
    the dedup.py at-scale convention, ~2x cheaper per gram, NOT
    oracle-portable).  Weight SEMANTICS are hash-agnostic: both
    distributions and the doc scores use the same bucketing, so only the
    (arbitrary) feature-space partition changes."""
    if hash_impl == "portable":
        return _H32.format(v="g") + f" % {n_buckets}"
    if hash_impl == "fast":
        return f"pmod(xxhash64(g), {n_buckets})"
    raise ValueError(
        f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}"
    )


def _gram_expr(ngram: int) -> str:
    if ngram == 1:
        return TOKENS
    if ngram == 2:
        return twograms_all_expr()
    raise ValueError(f"ngram must be 1 or 2, got {ngram}")


def bucket_counts(
    df: DataFrame, n_buckets: int, ngram: int = 2,
    hash_impl: str = "portable",
) -> DataFrame:
    """(bucket, n) hashed n-gram counts — the corpus's bag-of-hashed-grams
    distribution in at most ``n_buckets`` rows.  One explode + one hash
    aggregate (map-side partial combine); output is metadata-scale."""
    gram = _gram_expr(ngram)
    return (
        df.select(F.explode(F.expr(gram)).alias("g"))
        .select(F.expr(_bucket_expr(n_buckets, hash_impl)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    ngram: int = 2,
    hash_impl: str = "portable",
) -> DataFrame:
    """(doc_id, logw) — per-document DSIR importance log-weight
    ``sum over grams of log p_target(bucket) - log p_raw(bucket)`` with
    Laplace(+1) smoothing.  Documents with no grams keep ``logw = 0.0``
    (an empty document is distribution-neutral, not dropped).

    The two distribution tables are ≤ ``n_buckets`` rows each, so they are
    collected to the driver (gram totals summed there, no second corpus
    scan, nothing left cached) and the ratio table is a local relation
    broadcast into the gram stream; the only corpus-sized shuffle is the
    per-doc aggregation.  ``explode_outer`` keeps gram-less documents in
    the stream (their null gram scores 0.0), so no corpus-sized re-join is
    needed to restore them."""
    gram = _gram_expr(ngram)

    r, t = (
        dict(bucket_counts(df, n_buckets, ngram, hash_impl).collect())
        for df in (raw, target)
    )
    totals_r, totals_t = sum(r.values()), sum(t.values())

    # log/divide stay Spark expressions over the local table, so the
    # weights keep the JVM's floating point, not Python's math.log
    ratio = (
        local_frame(
            raw.sparkSession,
            [(b, r.get(b), t.get(b)) for b in sorted(set(r) | set(t))],
            "bucket bigint, n_raw bigint, n_tgt bigint",
        )
        .select(
            "bucket",
            (
                F.log((F.coalesce("n_tgt", F.lit(0)) + 1)
                      / F.lit(float(totals_t + n_buckets)))
                - F.log((F.coalesce("n_raw", F.lit(0)) + 1)
                        / F.lit(float(totals_r + n_buckets)))
            ).alias("llr"),
        )
    )
    # an UNSEEN bucket (absent from both tables) still has a defined ratio
    llr_unseen = math.log(1.0 / (totals_t + n_buckets)) - math.log(
        1.0 / (totals_r + n_buckets)
    )

    return (
        raw.select("doc_id", F.explode_outer(F.expr(gram)).alias("g"))
        .select(
            "doc_id",
            "g",
            F.expr(_bucket_expr(n_buckets, hash_impl)).alias("bucket"),
        )
        .join(F.broadcast(ratio), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("g").isNull(), F.lit(0.0)).otherwise(
                        F.coalesce("llr", F.lit(llr_unseen))
                    )
                ),
                6,
            ).alias("logw")
        )
    )


# Gumbel noise from the doc_id hash: u in (0,1) from a 32-bit md5 prefix,
# g = -ln(-ln(u)).  Top-k of logw + g is an exact weighted sample without
# replacement with P(i in sample) matching w_i = exp(logw_i) (Gumbel-max /
# Efraimidis–Spirakis equivalence) — and it is a pure function of
# (doc_id, logw), so engines and retries agree.
_GUMBEL = (
    "-ln(-ln((" + _H32.format(v="concat(cast(doc_id as string), ':dsir')")
    + " + 0.5) / 4294967296.0))"
)


def importance_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 4096,
    ngram: int = 2,
    hash_impl: str = "portable",
) -> DataFrame:
    """The k raw documents sampled without replacement with probability
    proportional to their DSIR importance weight — ``(doc_id, logw,
    gumbel_key)`` of the selected set.  Deterministic: selection is a
    pure function of the corpus contents.

    At scale: the weight stage is one shuffle (see
    :func:`importance_weights`); selection is orderBy+limit, which Spark
    plans as TakeOrderedAndProject — per-partition top-k, only ``k``
    rows cross to the driver."""
    w = importance_weights(raw, target, n_buckets=n_buckets, ngram=ngram,
                           hash_impl=hash_impl)
    return (
        w.select(
            "doc_id",
            "logw",
            F.round(F.expr(_GUMBEL) + F.col("logw"), 6).alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(k)
    )


def perplexity_score(
    docs: DataFrame,
    reference: DataFrame,
    n_buckets: int = 65536,
    alpha: float = 0.1,
    hash_impl: str = "portable",
) -> DataFrame:
    """(doc_id, n_bigrams, logprob_avg, ppl) — CCNet-style quality
    filtering (Wenzek et al. 2020, arXiv:1911.00359): score each document
    by its perplexity under an n-gram language model trained on a clean
    reference corpus; low perplexity ≈ reference-like text.

    The LM is a HASHED add-alpha bigram model — both count tables collapse
    to ``n_buckets`` rows (broadcast scale at ANY reference size, the
    DSIR trick; collisions only smooth the model, a documented deviation
    from CCNet's KenLM 5-gram):

        logP(w2 | w1) = ln(c2[h(w1 w2)] + alpha) - ln(c1[h(w1)] + alpha*B)
        ppl           = exp(-avg over the doc's bigrams)

    Plan: reference scanned once per order (two bounded hash aggregates);
    doc bigrams broadcast-join BOTH tiny tables; ONE corpus shuffle (the
    per-doc average — partial-combined map-side, ~1 row/doc crosses).
    Documents with <2 tokens have no bigram: ``n_bigrams = 0`` and NULL
    scores (no evidence ≠ good or bad — let the caller policy decide)."""
    uni = bucket_counts(reference, n_buckets, ngram=1, hash_impl=hash_impl
                        ).withColumnRenamed("n", "c1")
    bi = bucket_counts(reference, n_buckets, ngram=2, hash_impl=hash_impl
                       ).withColumnRenamed("n", "c2")
    gram = _gram_expr(2)
    g1 = "substring_index(g, ' ', 1)"
    b2 = _bucket_expr(n_buckets, hash_impl)
    b1 = b2.replace("(g)", f"({g1})") if hash_impl == "fast" else (
        _H32.format(v=g1) + f" % {n_buckets}")
    scored = (
        docs.select("doc_id", F.explode_outer(F.expr(gram)).alias("g"))
        .select(
            "doc_id", "g",
            F.expr(b2).alias("kb"),
            F.expr(b1).alias("ku"),
        )
        .join(F.broadcast(bi.withColumnRenamed("bucket", "kb")), "kb", "left")
        .join(F.broadcast(uni.withColumnRenamed("bucket", "ku")), "ku", "left")
        .groupBy("doc_id")
        .agg(
            F.count("g").alias("n_bigrams"),
            # the expression must be NULL on the explode_outer placeholder
            # row (g IS NULL) — coalesce would otherwise feed avg() a
            # spurious "unseen bigram" value for bigram-less documents
            F.avg(
                F.when(
                    F.col("g").isNotNull(),
                    F.log(F.coalesce("c2", F.lit(0)) + F.lit(alpha))
                    - F.log(F.coalesce("c1", F.lit(0))
                            + F.lit(alpha * n_buckets)),
                )
            ).alias("_lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("_lp", 6).alias("logprob_avg"),
        F.round(F.exp(-F.col("_lp")), 6).alias("ppl"),
    )


def gumbel_key_expr(salt: str = "wsample") -> str:
    """Deterministic Gumbel noise from the doc_id hash (see ``_GUMBEL``),
    salted so independent sampling stages decorrelate.  The salt is
    interpolated into SQL expression text, so it must be identifier-safe
    (the mix_corpora / stratified_sample quote-injection rule: a quote in
    the salt would silently change the expression, not error)."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9_.-]+", salt):
        raise ValueError(f"salt must match [A-Za-z0-9_.-]+, got {salt!r}")
    u = _H32.format(v=f"concat(cast(doc_id as string), ':{salt}')")
    return f"-ln(-ln(({u} + 0.5) / 4294967296.0))"


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "weight",
    salt: str = "wsample",
) -> DataFrame:
    """General exact weighted sampling WITHOUT replacement: the ``k`` rows
    selected with probability proportional to ``weight_col`` (> 0; zero or
    negative or NULL weights never selected) — the Gumbel-top-k /
    Efraimidis–Spirakis machinery of :func:`importance_sample` factored
    out for arbitrary weights (host-rank-weighted corpus draws, quality-
    score-weighted mixes, temperature-scaled source mixing via
    ``pow(weight, 1/T)`` upstream).

    Deterministic — the Gumbel noise is a pure function of (doc_id, salt),
    so retries and engines agree; a different ``salt`` draws an
    independent sample.  Plan: project + TakeOrderedAndProject (per-
    partition top-k; only ``k`` rows reach the driver)."""
    key = F.round(
        F.expr(gumbel_key_expr(salt)) + F.ln(F.col(weight_col)), 6
    ).alias("gumbel_key")
    return (
        df.filter(F.col(weight_col) > 0)
        .select("*", key)
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(k)
    )


def mix_corpora(
    sources,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic multi-corpus mixing: each source corpus is sampled /
    upsampled by its weight and the results unioned into one training mix
    — the Pile/Dolma-style "data mixture" stage.

    ``sources`` is a list of ``(name, df, weight)`` triples (all frames
    must share a schema; ``unionByName`` asserts it).  ``weight`` is the
    per-source sampling RATE: ``1.0`` keeps the corpus once, ``0.25``
    keeps a deterministic quarter, ``2.5`` emits two full epochs plus a
    deterministic half for the third.  Output rows carry ``source`` and
    ``epoch`` columns; full epochs get epoch ``0 .. floor(w)-1``, the
    fractional remainder is epoch ``floor(w)``.

    Selection is the engine-wide hash-uniform rule (md5 of
    ``doc_id:source:salt`` scaled to [0, 1) — stable across retries,
    partitionings, and engines; a different ``salt`` draws an independent
    mixture).  Upsampling is an in-row ``explode(sequence(...))`` — one
    scan per source, no self-union, no shuffle introduced by this
    operator.  Shuffle the mixed order downstream with
    ``textops.pack_sequences(order='shuffle')`` or ``weighted_sample``.
    """
    if not sources:
        raise ValueError("mix_corpora needs at least one (name, df, weight) source")
    # names/salt are interpolated into SQL text — keep them identifier-safe
    # (the stratified_sample quote-injection lesson, r2 VERDICT item 6)
    import re as _re

    names = [name for name, _, _ in sources]
    if len(set(names)) != len(names):
        # duplicate names would correlate the fractional draws and make
        # the output's source column ambiguous
        raise ValueError(f"source names must be unique, got {names}")
    for name in names:
        if not _re.fullmatch(r"[A-Za-z0-9_.-]+", name):
            raise ValueError(f"source name must match [A-Za-z0-9_.-]+, got {name!r}")
    if not _re.fullmatch(r"[A-Za-z0-9_.-]+", salt):
        raise ValueError(f"salt must match [A-Za-z0-9_.-]+, got {salt!r}")
    out = None
    for name, df, weight in sources:
        if not (weight > 0):
            raise ValueError(f"source {name!r}: weight must be > 0, got {weight}")
        n_full = int(math.floor(weight))
        frac = weight - n_full
        u = _H32.format(
            v=f"concat(cast(doc_id as string), ':', '{name}', ':', '{salt}')"
        )
        n_epochs = n_full + (1 if frac > 0 else 0)
        picked = (
            df.withColumn("source", F.lit(name))
            .withColumn(
                "epoch", F.explode(F.expr(f"sequence(0, {n_epochs - 1})"))
            )
            .filter(
                F.expr(f"epoch < {n_full} or ({u}) / 4294967296.0 < {frac}")
            )
            .withColumn("epoch", F.col("epoch").cast("int"))
        )
        out = picked if out is None else out.unionByName(picked)
    return out


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str = "score",
    token_col: str | None = None,
    n_buckets: int = 65536,
    seed: int = 0,
) -> DataFrame:
    """Greedy data selection under a global TOKEN budget: keep the
    highest-scoring documents until ``budget_tokens`` is reached — the
    "take the best N billion tokens" stage downstream of any quality /
    perplexity / DSIR scorer.

    A global sort + running sum would serialize the corpus through one
    partition, so selection runs on the bounded-driver two-pass shape
    shared with ``textops.pack_shards``:

    1. scores quantize into ``n_buckets`` equal-width buckets over the
       observed [min, max] (one aggregate); per-bucket token totals
       (<= n_buckets rows, driver-side BOUNDED at any corpus size) give
       the exclusive prefix from the top — every bucket strictly above
       the BOUNDARY bucket is wholly selected, every bucket below is
       wholly dropped;
    2. only the boundary bucket — the one the budget lands inside —
       resolves document-by-document, via the deterministic hash-
       permutation prefix sum (``textops._prefix_tokens(order="shuffle")``,
       itself two-pass and balanced), filling the remaining budget.

    Selection rule within the boundary bucket matches pack_shards'
    membership rule: a document is kept iff its exclusive prefix is
    strictly below the remaining budget (the straddling document is
    INCLUDED — total may exceed the budget by less than one document).
    Ties at bucket resolution resolve by the hash draw, not doc_id order,
    which is what keeps the all-scores-equal degenerate case fully
    distributed instead of one-partition.  NULL scores are never
    selected, and neither are rows whose token count is NULL (e.g. a
    left-join miss from ``bpe_token_count``) — an unknown cost cannot be
    charged against the budget, and a NULL total would crash the
    driver-side prefix walk.  Deterministic: buckets are a pure function
    of the score distribution, the draw of ``(doc_id, seed)``.

    Returns the selected rows with ``n_tokens`` added (whitespace tokens,
    or ``token_col`` if given — e.g. real BPE counts from
    ``bpe.bpe_token_count``).
    """
    from deidcm_spark.operators.textops import TOKENS, _prefix_tokens

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    scored = df.filter(F.col(score_col).isNotNull())
    lo, hi = scored.agg(
        F.min(score_col).cast("double"), F.max(score_col).cast("double")
    ).first()
    if lo is None:
        return df.withColumn("n_tokens", F.lit(0).cast("bigint")).limit(0)
    span = hi - lo
    if span > 0:
        bucket = F.least(
            F.floor((F.col(score_col).cast("double") - F.lit(lo)) / span * n_buckets),
            F.lit(n_buckets - 1),
        ).cast("long")
    else:
        bucket = F.lit(0).cast("long")
    count_expr = (
        F.col(token_col).cast("long") if token_col
        else F.expr(f"cast(size({TOKENS}) as bigint)")
    )
    # the count lives in an internal column so a token_col literally named
    # "n_tokens" survives the boundary re-count (and any pre-existing
    # n_tokens column is replaced, never duplicated, on return)
    with_b = (
        scored.withColumn("_bkt", bucket)
        .withColumn("_ntok", count_expr)
        # NULL counts are unselectable (docstring rule): a bucket whose
        # rows all have NULL counts would sum to a NULL total and crash
        # the driver-side walk; a selected NULL would corrupt downstream
        # budget accounting
        .filter(F.col("_ntok").isNotNull())
    )

    def _finish(d):
        drop = ["_bkt"] + (["n_tokens"] if "n_tokens" in d.columns and "_ntok" in d.columns else [])
        return d.drop(*drop).withColumnRenamed("_ntok", "n_tokens")

    totals = sorted(
        (
            (r["_bkt"], r["t"])
            for r in with_b.groupBy("_bkt").agg(F.sum("_ntok").alias("t")).collect()
        ),
        reverse=True,
    )
    acc = 0
    boundary, remaining = None, 0
    full_above = None  # lowest wholly-selected bucket
    for bkt, t in totals:
        if acc + t <= budget_tokens:
            acc += t
            full_above = bkt
        else:
            boundary, remaining = bkt, budget_tokens - acc
            break
    parts = []
    if full_above is not None:
        parts.append(with_b.filter(F.col("_bkt") >= full_above))
    if boundary is not None and remaining > 0:
        bdf = with_b.filter(F.col("_bkt") == boundary)
        pre = _prefix_tokens(
            bdf.drop("_ntok"), token_col, None, n_buckets,
            order="shuffle", seed=seed,
        ).filter(F.col("_before") < remaining).select("doc_id")
        # no broadcast hint: the boundary slice is normally tiny and AQE
        # will broadcast it from runtime stats, but in the degenerate
        # all-scores-tied case `pre` IS the whole selected set (millions
        # of doc_ids at a 1B-token budget) — forcing it into a broadcast
        # regardless of size was a driver-OOM at scale (r3 verdict #1)
        parts.append(bdf.join(pre, "doc_id", "left_semi"))
    if not parts:
        return _finish(with_b).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finish(out)
