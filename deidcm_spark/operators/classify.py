"""Hashed linear quality classifier + Pareto acceptance gate.

The GPT-3 / CCNet family of pipelines filters a web crawl with a cheap
linear classifier trained to separate a curated "positive" corpus
(WebText / Wikipedia / books) from raw crawl text, then keeps a document
stochastically when ``prob > 1 - pareto_draw(alpha)`` (Brown et al.,
arXiv:2005.14165, Appendix A) — the Pareto tail re-admits a thin slice
of low-scoring documents so the kept set is not a hard cliff at the
decision boundary.  fastText-style classifiers (Joulin et al.,
arXiv:1607.01759) are the standard implementation: a bag of hashed
n-grams and a linear head.

This module is the closed-form member of that family: multinomial
Naive Bayes over the repo's hashed n-gram feature space.  NB's per-class
feature log-probabilities need exactly the per-class bucket counts that
:func:`deidcm_spark.operators.sampling.bucket_counts` already produces,
so training is two bounded hash aggregates and NO gradient loop — the
same "the model IS a small Spark table" shape as the Bloom filter, the
HLL/CMS sketches, and the DSIR ratio table.

Spark-first decomposition:

1. **train** — one ``n_buckets``-row count table per class (map-side
   combined hash agg each; metadata scale at ANY corpus size).  The
   model = ``(bucket, w)`` with ``w = log p(b|pos) − log p(b|neg)``
   (Laplace +1), plus two scalars: the prior log-odds ``bias`` and the
   unseen-bucket weight ``w_unseen``.  Persist the table as parquet and
   the model survives sessions / merges across training shards (counts
   re-aggregate, because NB training is associative).
2. **score** — explode grams → broadcast-join the model table →
   ONE per-doc hash aggregation (the sole corpus-sized shuffle) →
   ``logit = bias + Σw`` (or the fastText-style per-gram mean with
   ``normalize=True``) and ``prob = sigmoid(logit)``.
3. **select** — the Pareto gate is a pure row-local filter, ZERO
   shuffles: the "random" draw is a hash of the doc_id (repo-wide
   no-RNG invariant — retries and engines agree bit-for-bit).

Determinism: md5-prefix hashing for buckets (portable to the
pure-Python oracle; ``hash_impl="fast"`` swaps in xxhash64 for the
at-scale path, same as dedup/DSIR), Laplace smoothing in closed form,
hash-derived uniforms for the Pareto draw.  Scores are rounded to 1e-6
before every comparison so engines cannot disagree on a keep decision.

Reference scope note: the reference pipeline (Epiconcept-Paris/deidcm)
has no corpus-curation stage; this operator is part of the
training-data lane the round briefs add on top of SURVEY §2.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.operators.sampling import _bucket_expr, _gram_expr, _H32
from deidcm_spark.schema import local_frame


def nb_train(
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = 4096,
    ngram: int = 2,
    hash_impl: str = "portable",
) -> tuple[DataFrame, dict]:
    """Train the hashed-n-gram Naive Bayes quality model.

    Returns ``(weights, meta)``:

    * ``weights`` — ``(bucket, w)`` for every bucket observed in EITHER
      class, ``w = log((c_pos+1)/(T_pos+B)) − log((c_neg+1)/(T_neg+B))``
      (B = ``n_buckets``).  At most ``n_buckets`` rows: broadcast /
      driver scale at any corpus size.
    * ``meta`` — ``{"bias", "w_unseen", "n_pos", "n_neg", "n_buckets",
      "ngram", "hash_impl"}``; ``bias`` is the document-count prior
      log-odds ``log(n_pos/n_neg)``, ``w_unseen`` the weight of a bucket
      absent from both classes (smoothing makes it well-defined).

    The two count tables are the only corpus passes; both collapse to
    ≤ ``n_buckets`` rows before anything crosses the shuffle.
    """
    from deidcm_spark.operators.sampling import bucket_counts

    # the count tables are ≤ n_buckets rows by construction — LOCALIZE
    # them (bounded collect, the heavy_hitters discipline) instead of
    # persisting: a persist-and-never-unpersist here leaked two cached
    # block sets per training call into the session, and localizing also
    # frees every later weights consumer from re-scanning the corpus.
    # The weight arithmetic stays a Spark expression over the local
    # relation so log/divide/round are bit-identical to the previous
    # cluster-side plan (and to the DuckDB oracle twin).
    pc = {
        int(r["bucket"]): int(r["n_pos"])
        for r in bucket_counts(pos, n_buckets, ngram, hash_impl)
        .withColumnRenamed("n", "n_pos").collect()
    }
    qc = {
        int(r["bucket"]): int(r["n_neg"])
        for r in bucket_counts(neg, n_buckets, ngram, hash_impl)
        .withColumnRenamed("n", "n_neg").collect()
    }
    t_pos = sum(pc.values())
    t_neg = sum(qc.values())
    n_pos = pos.count()
    n_neg = neg.count()

    weights = (
        local_frame(
            pos.sparkSession,
            [(b, pc.get(b), qc.get(b)) for b in sorted(set(pc) | set(qc))],
            "bucket bigint, n_pos bigint, n_neg bigint",
        )
        .select(
            "bucket",
            F.round(
                F.log((F.coalesce("n_pos", F.lit(0)) + 1)
                      / F.lit(float(t_pos + n_buckets)))
                - F.log((F.coalesce("n_neg", F.lit(0)) + 1)
                        / F.lit(float(t_neg + n_buckets))),
                9,
            ).alias("w"),
        )
    )
    meta = {
        "bias": round(math.log(n_pos) - math.log(n_neg), 9) if n_pos and n_neg else 0.0,
        "w_unseen": round(
            math.log(1.0 / (t_pos + n_buckets)) - math.log(1.0 / (t_neg + n_buckets)), 9
        ),
        "n_pos": n_pos,
        "n_neg": n_neg,
        "n_buckets": n_buckets,
        "ngram": ngram,
        "hash_impl": hash_impl,
    }
    return weights, meta


_META_SCHEMA = ("bias double, w_unseen double, n_pos long, n_neg long, "
                "n_buckets long, ngram long, hash_impl string")


def save_model(weights: DataFrame, meta: dict, path: str) -> None:
    """Persist the trained model: the weights table as parquet (it IS the
    model — ≤ n_buckets rows) plus a one-row meta table.  A saved model
    survives sessions and ships to a streaming job or another cluster;
    training is associative (bucket counts re-aggregate), so shard models
    can also be rebuilt from merged count tables at any time."""
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    local_frame(
        weights.sparkSession,
        [(float(meta["bias"]), float(meta["w_unseen"]), int(meta["n_pos"]),
          int(meta["n_neg"]), int(meta["n_buckets"]), int(meta["ngram"]),
          str(meta["hash_impl"]))],
        _META_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_model(spark, path: str) -> tuple[DataFrame, dict]:
    """(weights, meta) — inverse of :func:`save_model`; the pair feeds
    :func:`nb_score` unchanged."""
    r = spark.read.parquet(f"{path}/meta").first()
    meta = {
        "bias": r["bias"], "w_unseen": r["w_unseen"], "n_pos": r["n_pos"],
        "n_neg": r["n_neg"], "n_buckets": int(r["n_buckets"]),
        "ngram": int(r["ngram"]), "hash_impl": r["hash_impl"],
    }
    return spark.read.parquet(f"{path}/weights"), meta


def nb_score(
    docs: DataFrame,
    weights: DataFrame,
    meta: dict,
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, n_grams, logit, prob) — classifier score per document.

    ``logit = bias + Σ_grams w(bucket)`` (``normalize=True`` divides the
    sum by the gram count first — the fastText mean-of-features head,
    length-invariant); ``prob = sigmoid(logit)`` rounded to 1e-6.  A
    document with no grams scores the prior alone (``logit = bias``) —
    it is not dropped and not fabricated into either class.

    Plan: explode → broadcast join against the ≤ ``n_buckets``-row model
    → one per-doc aggregation.  The only corpus-sized shuffle is that
    aggregation; the Pareto gate downstream adds none.
    """
    gram = _gram_expr(meta["ngram"])
    bucket = _bucket_expr(meta["n_buckets"], meta["hash_impl"])
    per_gram = (
        docs.select("doc_id", F.explode_outer(F.expr(gram)).alias("g"))
        .select(
            "doc_id",
            "g",
            F.expr(bucket).alias("bucket"),
        )
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("g").isNull(), F.lit(0)).otherwise(F.lit(1))
                  ).alias("n_grams"),
            F.sum(
                F.when(F.col("g").isNull(), F.lit(0.0)).otherwise(
                    F.coalesce("w", F.lit(float(meta["w_unseen"])))
                )
            ).alias("_wsum"),
        )
    )
    bias = float(meta["bias"])
    if normalize:
        logit = F.lit(bias) + F.when(
            F.col("n_grams") > 0, F.col("_wsum") / F.col("n_grams")
        ).otherwise(F.lit(0.0))
    else:
        logit = F.lit(bias) + F.col("_wsum")
    logit = F.round(logit, 6)
    return per_gram.select(
        "doc_id",
        "n_grams",
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("prob"),
    )


# Lomax/Pareto draw from the doc_id hash: u in (0,1) from a 32-bit md5
# prefix, draw = (1-u)^(-1/alpha) - 1 — exactly numpy.random.pareto's
# inverse-CDF with the uniform replaced by a pure function of the doc_id,
# so engines and retries agree (repo-wide no-RNG invariant).
def _pareto_draw_expr(alpha: float, salt: str) -> str:
    u = ("(" + _H32.format(v=f"concat(cast(doc_id as string), ':{salt}')")
         + " + 0.5) / 4294967296.0")
    return f"round(power(1.0 - ({u}), {-1.0 / alpha!r}) - 1.0, 6)"


def pareto_flag(
    scored: DataFrame,
    alpha: float = 9.0,
    salt: str = "pareto",
) -> DataFrame:
    """Every scored row + ``pareto_draw`` + boolean ``keep`` — the
    non-filtering form of :func:`pareto_select` (audit tables, the driver
    contract entry, keep-rate monitoring).  Same row-local zero-shuffle
    profile; ``pareto_select`` is exactly this with the drops filtered."""
    draw = _pareto_draw_expr(alpha, salt)
    return scored.withColumn("pareto_draw", F.expr(draw)).withColumn(
        "keep", F.col("prob") > F.lit(1.0) - F.col("pareto_draw")
    )


def pareto_select(
    scored: DataFrame,
    alpha: float = 9.0,
    salt: str = "pareto",
) -> DataFrame:
    """GPT-3's stochastic acceptance gate (arXiv:2005.14165 App. A):
    keep a document iff ``prob > 1 − pareto_draw(alpha)``.

    High-probability documents always pass (draw ≥ 0 ⇒ threshold ≤ 1);
    low-probability ones survive only when the heavy-tailed draw spikes,
    so the kept set keeps a deliberate trickle of boundary documents
    instead of a hard cliff.  ``alpha=9`` is the published setting.

    Row-local filter over the scored frame — ZERO additional shuffles;
    both sides of the comparison are rounded to 1e-6 (prob in
    :func:`nb_score`, the draw here) so no engine-ulp tie flips a keep
    decision.  Deterministic: the draw is a hash of the doc_id.
    """
    return pareto_flag(scored, alpha=alpha, salt=salt).filter(
        F.col("keep")
    ).drop("keep")


def quality_classifier_select(
    docs: DataFrame,
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = 4096,
    ngram: int = 2,
    alpha: float = 9.0,
    normalize: bool = False,
    hash_impl: str = "portable",
) -> DataFrame:
    """The full GPT-3 quality-filter lane in one call: train on
    (pos, neg), score ``docs``, keep via the Pareto gate.  Returns
    ``(doc_id, n_grams, logit, prob, pareto_draw)`` of the kept set."""
    weights, meta = nb_train(pos, neg, n_buckets=n_buckets, ngram=ngram,
                             hash_impl=hash_impl)
    return pareto_select(
        nb_score(docs, weights, meta, normalize=normalize),
        alpha=alpha,
    )
