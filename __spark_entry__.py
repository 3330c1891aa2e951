"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: ingest the sf0.001 documents table into span
form, run the de-identification pipeline, return per-doc metrics.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data operators; EVERY entry is
oracle-checked.  Three oracle strategies (in preference order):

1. direct ANSI-SQL re-derivation (most queries);
2. pure-SQL re-implementation of "non-SQL" kernels — sha256→first-30
   -decimal-digits via limb long division (duck_oracle.dec30_ctes, powers
   ``phi_scrub_uids``), hyperplane sign signatures + probe sets
   (``ann_lsh``/``ann_ivf``), the md5-arithmetic box corpus
   (``media_redaction``/``ocr_recognition_metrics``);
3. the INDEPENDENT pure-Python oracle (deidcm_spark/oracle.py — separate
   implementation, no engine imports) embedded as a VALUES relation where
   the recipe engine itself is the semantics (``deid_pipeline``,
   ``deid_recipe_cases``).

Column names/aliases are kept identical between each Spark query and its
oracle SQL (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from deidcm_spark import duck_oracle as dk
from deidcm_spark.config import load_authorized_words, load_general_rules
from deidcm_spark.corpus import case_documents_df, synth_documents
from deidcm_spark.ingest import documents_to_spans
from deidcm_spark.operators import classify, dedup, extract, scrub, similarity, textops
from deidcm_spark.operators.deidentify import deidentify_attributes
from deidcm_spark.operators.media import redaction_plan

ORG_ROOT = "9.9.9.9.9"
SALT = "entry_salt"

def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational core (J/A/P families over the TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def join_customer_nation_region(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def anti_join_customers_without_orders(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def orders_priority_counts(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def events_rollup(spark, sf_dir):
    """Hypertable rollup (continuous-aggregate family): hour/day/week
    bucketed aggregates from ONE corpus-sized shuffle — the coarser
    resolutions re-aggregate the hourly partials (operators/rollup.py),
    with the hourly exchange reused across levels.  Oracle = three
    independent direct aggregations, one per resolution."""
    from deidcm_spark.operators.rollup import hypertable_rollup

    e = _load(spark, sf_dir, "events")
    out = hypertable_rollup(
        e, ts_col="ts", key_cols=["event_type"], value_col="value",
        granularities=["hour", "day", "week"],
    )
    return out.select(
        "bucket", "granularity", "event_type", "n_events",
        F.round("sum_value", 3).alias("sum_value"),
        F.round("min_value", 3).alias("min_value"),
        F.round("max_value", 3).alias("max_value"),
    )


def orders_topn_per_customer(spark, sf_dir):
    """Ranking window (W-family): top-3 orders per customer by price,
    deterministic tie-break on order key."""
    from pyspark.sql import Window

    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_ORDERS_TOPN_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def user_running_value(spark, sf_dir):
    """Cumulative window (W-family): per-user running event-value total in
    event-time order."""
    from pyspark.sql import Window

    e = _load(spark, sf_dir, "events").filter("user_id <= 200")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 3).alias("running_value"),
    )


_USER_RUNNING_SQL = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 3) AS running_value
FROM events WHERE user_id <= 200
"""


def window_analytics(spark, sf_dir):
    """W-family tagged union (ranking + cumulative windows): the former
    ``orders_topn_per_customer`` and ``user_running_value`` contract
    entries merged into one 50-cap slot (CLAUDE.md: merge related queries
    rather than exceeding 50).  Columns align on
    ``(kind, key1, key2, val, rn)``; the standalone functions remain the
    user-facing API."""
    topn = orders_topn_per_customer(spark, sf_dir).select(
        F.lit("topn").alias("kind"),
        F.col("o_custkey").alias("key1"),
        F.col("o_orderkey").alias("key2"),
        F.round(F.col("o_totalprice").cast("double"), 3).alias("val"),
        F.col("rn").cast("int").alias("rn"),
    )
    running = user_running_value(spark, sf_dir).select(
        F.lit("running").alias("kind"),
        F.col("user_id").alias("key1"),
        F.col("event_id").alias("key2"),
        F.col("running_value").alias("val"),
        F.lit(None).cast("int").alias("rn"),
    )
    return topn.unionByName(running)


_WINDOW_ANALYTICS_SQL = """
SELECT 'topn' AS kind, o_custkey AS key1, o_orderkey AS key2,
       round(cast(o_totalprice AS double), 3) AS val, cast(rn AS int) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
UNION ALL
SELECT 'running' AS kind, user_id AS key1, event_id AS key2,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 3) AS val,
       cast(NULL AS int) AS rn
FROM events WHERE user_id <= 200
"""


# deterministic URL corpus for the url_canonicalize contract entry: the
# SAME synthesis expression in both dialects (only the cast keyword
# differs — Spark STRING, DuckDB VARCHAR), exercising tracking params,
# unsorted params, mixed-case www host, default port, trailing slash,
# and fragments
def _url_synth_expr(cast_ty: str) -> str:
    return (
        "concat('https://WWW.Host', cast(doc_id % 37 AS {t}), "
        "'.Example.COM:443/path', cast(doc_id % 11 AS {t}), "
        "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, "
        "'?b=', cast(doc_id % 7 AS {t}), '&utm_source=x&a=1', "
        "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"
    ).format(t=cast_ty)


def url_canonicalize(spark, sf_dir):
    """Crawl-front-door URL canonicalization (operators/linkgraph.py) on a
    deterministic synthetic URL column over ``documents``: tracking params
    dropped, params sorted, fragment/default-port/userinfo/www folds,
    trailing-slash strip.  Oracle = a FULL independent DuckDB SQL
    re-derivation of the spec (regexp_extract parts + list_filter/
    list_sort over the query params)."""
    urls = _load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_url_synth_expr("STRING")).alias("url")
    )
    from deidcm_spark.operators.linkgraph import canonicalize_url

    return canonicalize_url(urls).select("doc_id", "canonical_url", "host")


_URL_PARTS_DUCK = r"'^((?i:https?))://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$'"

_URL_CANON_SQL = f"""
WITH u AS (
  SELECT doc_id, {_url_synth_expr("VARCHAR")} AS url FROM documents
), p AS (
  SELECT doc_id,
         lower(regexp_extract(url, {_URL_PARTS_DUCK}, 1)) AS scheme,
         lower(regexp_extract(url, {_URL_PARTS_DUCK}, 2)) AS auth,
         regexp_extract(url, {_URL_PARTS_DUCK}, 3) AS pth,
         regexp_extract(url, {_URL_PARTS_DUCK}, 4) AS q
  FROM u
), h AS (
  SELECT doc_id, scheme,
         regexp_replace(regexp_replace(regexp_replace(auth,
             '^.*@', ''), '^(www\\.)+', ''), '(:443)+$', '') AS host,
         regexp_replace(pth, '[/ ]+$', '') AS cpath,
         array_to_string(list_sort(list_filter(string_split(q, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
             '^(utm_[a-zA-Z0-9_]+|gclid|dclid|fbclid|msclkid|mc_eid|mc_cid|igshid|yclid|ref|ref_src|spm|_ga|_gl)(=.*)?$'))),
             '&') AS cq
  FROM p
)
SELECT doc_id,
       trim(concat(scheme, '://', host,
              CASE WHEN cpath = '' THEN '/' ELSE cpath END,
              CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END), ' ') AS canonical_url,
       host
FROM h
"""


def events_sessionize(spark, sf_dir):
    """Batch sessionization via ``session_window`` (30-min gap) — the same
    W-family semantics the streaming facade uses, driver-checked against a
    classic gaps-and-islands SQL re-derivation (lag + break-flag prefix
    sum)."""
    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_EVENTS_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS bigint) AS n_events,
       round(sum(value), 3) AS sum_value
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# deid rule classification (J1/J2 broadcast-join shape, oracle-checked)
# ---------------------------------------------------------------------------

_REGEX_GOLDENS = [
    "0x50ffffff", "0x50a23e56", "0x50123456", "0x60003000",
    "0x60004000", "0x60564000", "0x605d3000",
]

_CLASSIFY_REGEX = "^(0x60[0-9a-f]{2}[3-4]{1}000|0x50[0-9a-f]{6})$"


def _hex_recipe_rows() -> list[tuple[str, str]]:
    """(tag_as_written, action) for recipe rows whose tag is 8 hex digits."""
    import re

    rows = []
    for tag, (_kw, _vr, action) in sorted(load_general_rules().items()):
        if re.fullmatch(r"0x[0-9a-fA-F]{8}", tag):
            rows.append((tag, action))
    return rows


def rule_classification(spark, sf_dir):
    """Classify a deterministic tag universe: regex classes, odd private
    groups, recipe hits (lowercase join — reproducing the reference's
    dead-rule quirk for uppercase-keyed rows), zero-trust default."""
    import pandas as pd

    rows = _hex_recipe_rows()
    # pandas → Arrow → JVM LocalRelation: no SQL-parse cost (a 20 KB VALUES
    # string costs ~2s of planner time per reference), no Python workers at
    # runtime (a python-list createDataFrame would ship pickled RDDs)
    recipe_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["rtag", "action"])
    )
    universe = spark.createDataFrame(
        pd.DataFrame({"tag": [t for t, _ in rows] + _REGEX_GOLDENS})
    )
    part = _load(spark, sf_dir, "part").filter("p_partkey <= 200")
    derived = part.select(
        F.concat(F.lit("0x"), F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8)).alias("tag")
    )
    universe = universe.union(derived).select(F.lower("tag").alias("tag"))
    joined = universe.join(F.broadcast(recipe_df), universe.tag == recipe_df.rtag, "left")
    return joined.select(
        "tag",
        F.when(F.col("tag").rlike(_CLASSIFY_REGEX), "RETIRER")
        .when(F.expr("cast(conv(substring(tag, 3, 4), 16, 10) as int) % 2 = 1"), "RETIRER")
        .otherwise(F.coalesce(F.col("action"), F.lit("RETIRER")))
        .alias("resolved_action"),
    ).groupBy("tag").agg(F.min("resolved_action").alias("resolved_action"))


def _rule_classification_sql() -> str:
    rows = _hex_recipe_rows()
    recipe_values = ",\n".join(f"('{t}', '{a}')" for t, a in rows)
    goldens = ", ".join(f"('{t}')" for t in _REGEX_GOLDENS)
    return f"""
WITH recipe(rtag, action) AS (VALUES {recipe_values}),
goldens(tag) AS (VALUES {goldens}),
universe AS (
  SELECT lower(rtag) AS tag FROM recipe
  UNION ALL SELECT lower(tag) FROM goldens
  UNION ALL SELECT '0x' || substr(md5(cast(p_partkey AS varchar)), 1, 8)
            FROM part WHERE p_partkey <= 200
)
SELECT tag, min(CASE
  WHEN regexp_matches(tag, '{_CLASSIFY_REGEX}') THEN 'RETIRER'
  WHEN CAST(concat('0x', substr(tag, 3, 4)) AS integer) % 2 = 1 THEN 'RETIRER'
  ELSE coalesce(action, 'RETIRER') END) AS resolved_action
FROM universe LEFT JOIN recipe ON universe.tag = recipe.rtag
GROUP BY tag
"""


# ---------------------------------------------------------------------------
# scalar kernels as column expressions (F-family, oracle-checked)
# ---------------------------------------------------------------------------

def scalar_kernels(spark, sf_dir):
    """Date kernels (F3/F4/F5: first_day_year / offset4date / hide_time
    over orders) and hash kernels (F1/F2: sha256 / uuid128-b64 over
    customer names) in ONE tagged union — r2 shipped them as two queries;
    merged so the 50-entry driver artifact covers every family."""
    o = _load(spark, sf_dir, "orders").filter("o_orderkey <= 2000")
    dates = o.select(
        F.lit("date").alias("family"),
        F.col("o_orderkey").cast("long").alias("key"),
        F.expr("concat(substring(date_format(o_orderdate, 'yyyyMMdd'), 1, 4), '0101')").alias("v1"),
        F.expr("date_format(date_sub(cast(o_orderdate as date), 100), 'yyyyMMdd')").alias("v2"),
        F.lit("000000").alias("v3"),
    )
    c = _load(spark, sf_dir, "customer").filter("c_custkey <= 500")
    hashes = c.select(
        F.lit("hash").alias("family"),
        F.col("c_custkey").cast("long").alias("key"),
        F.sha2(F.col("c_name"), 256).alias("v1"),
        F.base64(F.substring(F.sha2(F.col("c_name"), 256), 1, 16).cast("binary")).alias("v2"),
        F.base64(F.col("c_name").cast("binary")).alias("v3"),
    )
    return dates.unionByName(hashes)


def levenshtein_part_names(spark, sf_dir):
    p = _load(spark, sf_dir, "part").filter("p_partkey <= 300")
    return p.select(
        "p_partkey",
        F.levenshtein(F.col("p_name"), F.lit("standard widget case")).alias("lev_dist"),
    )


# ---------------------------------------------------------------------------
# text analysis (oracle-checked)
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """ALL row-local text signals in ONE scan (token counts, quality score,
    C4/Gopher filter flags, language id, fingerprints) — r2 shipped these
    as five queries over the same table; the engine's production shape is
    the single projection (``textops.text_stats``), and merging keeps the
    50-entry driver artifact covering every family.  The five per-signal
    operators remain and are pytest-covered."""
    t = textops.text_stats(_load(spark, sf_dir, "documents"))
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_bpe_est", "avg_token_len", "punct_ratio", "stopword_ratio",
        "quality", "repetition_ratio", "digit_ratio", "upper_ratio",
        "n_urls",
        F.col("en_hits").cast("long").alias("en_hits"),
        F.col("fr_hits").cast("long").alias("fr_hits"),
        "lang_pred", "fp_exact", "fp_sketch",
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition-removal signals: top-2-gram fraction + duplicate
    3-gram fraction per document (Rae et al. 2021 §A1.1)."""
    return textops.gopher_repetition(_load(spark, sf_dir, "documents"))


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: corpus docs sharing any word-3-gram with
    a held-out benchmark (here: the grams of docs 0-2) — broadcast join
    against the benchmark gram table."""
    d = _load(spark, sf_dir, "documents")
    return textops.decontaminate(
        d.filter("doc_id >= 3"), textops.benchmark_ngrams(d, 3)
    )


def q_passage_dedup(spark, sf_dir):
    """Cross-document repeated-passage detection: 16-token chunks shared
    by >1 document (RefinedWeb exact-substring family, chunk-granular) —
    run on the doubled corpus so every passage is genuinely shared."""
    return dedup.passage_dedup(_doubled_docs(spark, sf_dir))


def events_asof_join(spark, sf_dir):
    """As-of join (operator Spark lacks): each click event joined to the
    latest prior-or-simultaneous view of the same user via the union+window
    single-shuffle shape — oracle is DuckDB's native ASOF LEFT JOIN."""
    from deidcm_spark.operators.asof import asof_join

    e = _load(spark, sf_dir, "events").filter("user_id <= 150")
    clicks = e.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    views = e.filter("event_type = 'view'").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, views, key="user_id", ts="ts",
        payload_cols=["event_id", "value"], seq_col="event_id",
        prefix="view_",
    )
    return out.select("event_id", "user_id", "view_event_id", "view_value")


def events_range_join(spark, sf_dir):
    """Range/interval join (the second temporal operator Spark lacks):
    each click event paired with every same-user 6-hour error window that
    contains it, via the binned equi-join shape (operators/rangejoin.py) —
    no theta join, no BroadcastNestedLoop.  Timestamps compared as exact
    epoch-microsecond bigints so Spark and DuckDB agree at the window
    boundary — computed timezone-free (timestampdiff from a naive epoch
    anchor ≡ DuckDB's epoch_us on TIMESTAMP_NTZ; double epoch seconds
    cannot represent microseconds exactly at 2024 magnitudes)."""
    from deidcm_spark.operators.rangejoin import range_join

    w_us = 21600 * 1_000_000  # 6-hour windows
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    e = _load(spark, sf_dir, "events")
    clicks = e.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.expr(us).alias("pt_us"),
    )
    windows = e.filter("event_type = 'error'").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.expr(us).alias("start_us"),
        (F.expr(us) + F.lit(w_us)).alias("end_us"),
    )
    out = range_join(
        clicks, windows, key="user_id", point_col="pt_us",
        start_col="start_us", end_col="end_us", bin_width=w_us,
    )
    return out.select(
        "click_id", "error_id", "user_id",
        (F.col("pt_us") - F.col("start_us")).alias("lag_us"),
    )


_EVENTS_RANGE_SQL = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS pt_us
  FROM events WHERE event_type = 'click'
),
windows AS (
  SELECT event_id AS error_id, user_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + 21600000000 AS end_us
  FROM events WHERE event_type = 'error'
)
SELECT c.click_id, w.error_id, c.user_id, c.pt_us - w.start_us AS lag_us
FROM clicks c JOIN windows w
  ON c.user_id = w.user_id
 AND w.start_us <= c.pt_us AND c.pt_us <= w.end_us
"""


def q_vocab_top_terms(spark, sf_dir):
    """Corpus vocabulary build: global top-100 tokens, deterministic ties."""
    return textops.vocab_top_terms(_load(spark, sf_dir, "documents"), k=100).select(
        "token", F.col("n").cast("long").alias("n")
    )


def q_tfidf_top_term(spark, sf_dir):
    """Per-document top TF-IDF term (tf x ln((N+1)/(df+1)), 4-dp-rounded
    ranking, token tie-break)."""
    return textops.tfidf_top_term(_load(spark, sf_dir, "documents"))


def q_dedup_decisions(spark, sf_dir):
    """Greedy KEEP/DROP dedup policy from verified Jaccard pairs."""
    return dedup.dedup_decisions(_doubled_docs(spark, sf_dir), threshold=0.5)


def q_neardup_components(spark, sf_dir):
    """Connected components over the near-dup graph (iterative min-label
    propagation) — checked against a WITH RECURSIVE transitive-closure
    re-derivation in DuckDB: two different algorithms, one fixpoint."""
    return dedup.neardup_components(_doubled_docs(spark, sf_dir), threshold=0.5)


def _text_stats_sql() -> str:
    """ONE SELECT re-deriving every row-local text signal (the five r2
    per-signal oracles composed): token counts, quality, filter flags,
    language id, fingerprints."""
    stop = f"len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))"
    punct = "(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
    counts = {
        lang: "len(list_filter(toks, t -> list_contains(['" + "','".join(words) + "'], t)))"
        for lang, words in textops.LANG_WORDS.items()
    }
    pred = (
        f"CASE WHEN {counts['en']} >= {counts['fr']} AND {counts['en']} >= {counts['de']}"
        f" AND {counts['en']} >= {counts['es']} THEN 'en' "
        f"WHEN {counts['fr']} >= {counts['de']} AND {counts['fr']} >= {counts['es']} THEN 'fr' "
        f"WHEN {counts['de']} >= {counts['es']} THEN 'de' ELSE 'es' END"
    )
    return f"""
SELECT doc_id,
  CAST(len(toks) AS bigint) AS n_tokens,
  CAST(ceil(length(text) / 4.0) AS bigint) AS n_bpe_est,
  round(length(text) / greatest(len(toks), 1), 3) AS avg_token_len,
  round({punct} / greatest(length(text), 1), 4) AS punct_ratio,
  round({stop} / greatest(len(toks), 1), 4) AS stopword_ratio,
  round(least(len(toks) / 100.0, 1.0)
    * (1.0 - {punct} / greatest(length(text), 1))
    * (0.5 + 0.5 * least(5.0 * {stop} / greatest(len(toks), 1), 1.0)), 4) AS quality,
  round(1.0 - len(list_distinct(toks)) / greatest(len(toks), 1), 4) AS repetition_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1), 4) AS digit_ratio,
  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / greatest(length(text), 1), 4) AS upper_ratio,
  CAST(len(regexp_extract_all(text, '{textops.url_pat_sql("duckdb")}')) AS bigint) AS n_urls,
  CAST({counts['en']} AS bigint) AS en_hits,
  CAST({counts['fr']} AS bigint) AS fr_hits,
  {pred} AS lang_pred,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_exact,
  md5(array_to_string(list_sort(list_transform({_DSH}, s -> md5(s)))[1:4], ',')) AS fp_sketch
FROM (SELECT doc_id, text, {_DT} AS toks FROM documents)
"""


def _gopher_repetition_sql() -> str:
    g2 = "[toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]"
    g3 = "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]"
    return f"""
WITH t AS (SELECT doc_id, {_DT} AS toks FROM documents),
c2 AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest({g2}) AS g FROM t WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
a2 AS (SELECT doc_id, round(max(n) / sum(n), 4) AS top2_frac FROM c2 GROUP BY 1),
c3 AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest({g3}) AS g FROM t WHERE len(toks) >= 3)
  GROUP BY 1, 2
),
a3 AS (
  SELECT doc_id,
         round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) / sum(n), 4) AS dup3_frac
  FROM c3 GROUP BY 1
)
SELECT t.doc_id, coalesce(top2_frac, 0) AS top2_frac,
       coalesce(dup3_frac, 0) AS dup3_frac
FROM t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
"""


def _decontaminate_sql() -> str:
    return f"""
WITH bench AS (
  SELECT DISTINCT unnest({_DSH}) AS gram FROM documents WHERE doc_id < 3
),
grams AS (
  SELECT doc_id, unnest({_DSH}) AS gram FROM documents WHERE doc_id >= 3
)
SELECT doc_id, CAST(count(*) AS bigint) AS n_hits
FROM grams JOIN bench USING (gram)
GROUP BY doc_id
"""


def _passage_dedup_sql(chunk: int = 16) -> str:
    chunks = (
        f"CASE WHEN len(toks) = 0 THEN [] ELSE "
        f"[array_to_string(toks[(i-1)*{chunk}+1 : i*{chunk}], ' ') "
        f"for i in range(1, CAST(ceil(len(toks) / {chunk}.0) AS bigint) + 1)] END"
    )
    return f"""
WITH t AS (SELECT doc_id, {_DT} AS toks FROM ({_DOUBLED_SQL})),
per_doc AS (
  SELECT DISTINCT doc_id, md5(g) AS chunk_fp
  FROM (SELECT doc_id, unnest({chunks}) AS g FROM t)
)
SELECT chunk_fp, CAST(count(*) AS bigint) AS n_docs, min(doc_id) AS keep_doc_id
FROM per_doc GROUP BY chunk_fp HAVING count(*) > 1
"""


_EVENTS_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND user_id <= 150
),
-- the Spark operator tie-breaks equal-(user_id, ts) views by LARGEST
-- event_id (seq_col); DuckDB's ASOF picks an arbitrary row on ties, so
-- the view side is reduced to that winner FIRST — otherwise a corpus
-- with a timestamp collision makes this oracle flaky
views AS (
  SELECT user_id, ts,
         max(event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events
  WHERE event_type = 'view' AND user_id <= 150
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       v.event_id AS view_event_id, v.value AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def _vocab_sql() -> str:
    return f"""
SELECT token, CAST(count(*) AS bigint) AS n
FROM (SELECT unnest({_DT}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 100
"""


def _tfidf_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, unnest({_DT}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents),
scored AS (
  SELECT doc_id, token, round(tf * ln((nd + 1) / (df + 1)), 4) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
r AS (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token AS top_term, tfidf FROM r WHERE rn = 1
"""


def ocr_word_recognition(spark, sf_dir):
    """A5 word-recognition tally (fuzzy levenshtein thresholds of
    deid_verification.py:400-409) over the SQL box corpus — driver-visible
    version of verification.recognition_rates."""
    from deidcm_spark.operators.verification import recognition_rates

    boxes = _sql_boxes(spark, sf_dir)
    detected = boxes.filter("confidence > 0.3 and length(word) > 1").select("media_ref", "word")
    truth = boxes.select("media_ref", "word")
    return recognition_rates(detected, truth)


def _ocr_word_recognition_sql() -> str:
    fuzzy = (
        "levenshtein(t.tword, d.dword) <= "
        "(CASE WHEN least(length(t.tword), length(d.dword)) > 3 "
        "THEN 3 ELSE 1 END)"
    )
    return f"""
WITH boxes AS ({dk.boxes_sql("duckdb")}),
det AS (SELECT media_ref, upper(word) AS dword FROM boxes
        WHERE confidence > 0.3 AND length(word) > 1),
tru AS (SELECT media_ref, upper(word) AS tword FROM boxes),
m AS (
  SELECT t.media_ref, t.tword,
         max(CASE WHEN d.dword IS NULL THEN 0
                  WHEN {fuzzy} THEN 1 ELSE 0 END) AS recognized
  FROM tru t LEFT JOIN det d ON t.media_ref = d.media_ref
  GROUP BY t.media_ref, t.tword
)
SELECT media_ref, CAST(sum(recognized) AS bigint) AS n_recognized,
       CAST(count(*) AS bigint) AS n_words,
       round(sum(recognized) / count(*), 4) AS recognition_rate
FROM m GROUP BY media_ref
"""


def q_pack_shards(spark, sf_dir):
    """Token-aware contiguous shard packing via the distributed two-pass
    prefix sum; the oracle runs the equivalent single global window."""
    return textops.pack_shards(
        _load(spark, sf_dir, "documents"), capacity_tokens=2048, block_size=100
    )


def _pack_shards_sql() -> str:
    nt = f"CAST(len({_DT}) AS bigint)"
    return f"""
WITH t AS (SELECT doc_id, {nt} AS n_tokens FROM documents)
SELECT doc_id, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER
         (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / 2048) AS int) AS shard_id
FROM t
"""


_STRATA_BP = {"en": 5000, "fr": 2500, "de": 1000}


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic hash sampling (training-mix curation)."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    return textops.stratified_sample(d, _STRATA_BP, strata_col="lang", default_bp=500)


def _stratified_sample_sql() -> str:
    branches = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_STRATA_BP.items())
    )
    hv = "CAST(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) % 10000"
    return f"""
SELECT doc_id, lang FROM documents
WHERE {hv} < (CASE {branches} ELSE 500 END)
"""


def q_dataset_split(spark, sf_dir):
    """Deterministic hash-based train/val assignment + sample membership."""
    d = _load(spark, sf_dir, "documents")
    split = textops.deterministic_split(d, val_bp=1500)
    sample = textops.hash_sample(d, keep_bp=2500).select(
        "doc_id", F.lit(1).alias("in_sample")
    )
    return split.join(sample, "doc_id", "left").select(
        "doc_id", "split", F.coalesce("in_sample", F.lit(0)).alias("in_sample")
    )


# ---------------------------------------------------------------------------
# dedup family (oracle-checked) — corpus doubled so duplicates exist
# ---------------------------------------------------------------------------

def _doubled_docs(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return d.union(dup)


_DOUBLED_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents"
)


def q_dedup_exact(spark, sf_dir):
    """Exact dedup over the doubled corpus.  The ``variant`` column is kept
    (always ``'plain'``) because perfbench's curate oracle re-targets this
    entry's SQL and filters on it."""
    return dedup.dedup_exact(_doubled_docs(spark, sf_dir)).select(
        F.lit("plain").alias("variant"), "fp", "keep_doc_id", "n_dupes"
    )


def q_minhash_signatures(spark, sf_dir):
    sig = dedup.minhash_signatures(_load(spark, sf_dir, "documents"))
    return sig.select(
        "doc_id", F.col("n_shingles").cast("long").alias("n_shingles"),
        *[f"mh{i}" for i in range(dedup.N_MINHASH)],
    )


def q_lsh_candidate_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_doubled_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_doubled_docs(spark, sf_dir), threshold=0.5)


def q_simhash(spark, sf_dir):
    """Tagged union of the two simhash lanes (r5 slot merge — the 50-entry
    driver cap): ``tag='sig'`` rows carry the 16-bit simhash per document
    (``doc_a``=doc_id, ``doc_b``=-1, ``val``=simhash); ``tag='pair'`` rows
    the pigeonhole band-blocked near-dup pairs over the doubled corpus
    (``val``=hamming, <= 3).  32-bit simhash for the pair lane: at 16 bits
    a shared-vocabulary corpus saturates the hash space (measured ~340k
    pairs from 1k docs); 32 bits keeps the candidate set to the true
    near-dup neighborhood."""
    sims = dedup.simhash(_load(spark, sf_dir, "documents"))
    pairs = dedup.simhash_neardup_pairs(
        _doubled_docs(spark, sf_dir), max_hamming=3, bits=32
    )
    return sims.select(
        F.lit("sig").alias("tag"),
        F.col("doc_id").alias("doc_a"),
        F.lit(-1).cast("long").alias("doc_b"),
        F.col("simhash").cast("long").alias("val"),
    ).unionByName(
        pairs.select(
            F.lit("pair").alias("tag"),
            "doc_a",
            "doc_b",
            F.col("hamming").cast("long").alias("val"),
        )
    )


def q_embedding_neardup(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    dup = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label")
    return dedup.embedding_neardup_pairs(emb.union(dup), threshold=0.999)


def q_ann_threshold(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    return similarity.ann_threshold(emb, qv, threshold=0.25)


# ---------------------------------------------------------------------------
# main-content extraction lane (north_rule: HTML boilerplate strip, DOM
# heuristics, layout parse) — ALL tiers oracle-checked (the DOM/layout
# tiers via full DuckDB re-derivations of the synthetic page template)
# ---------------------------------------------------------------------------

def q_html_signals(spark, sf_dir):
    """Tagged union of the three row-local HTML lanes over ONE synthetic
    page scan (r2's html_strip_tags + html_link_density + page_metadata
    contract entries, merged to free driver slots for line_dedup and
    quality_gate): ``kind='strip'`` carries the boilerplate-stripped text
    + char count, ``kind='density'`` the densitometric link features,
    ``kind='meta'`` title/h1/lang/anchor-count.  Each lane stays a
    standalone operator in ``operators/extract.py``; only the contract
    surface is merged."""
    html = extract.with_html(_load(spark, sf_dir, "documents"))
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    strip = extract.strip_tags(html).select(
        F.lit("strip").alias("kind"), "doc_id",
        F.col("plain_text").alias("txt"), null_s.alias("txt2"),
        null_s.alias("txt3"),
        F.col("n_chars").cast("long").alias("n1"),
        null_l.alias("n2"), null_l.alias("n3"),
        F.lit(None).cast("double").alias("d"),
    )
    dens = extract.link_density(html).select(
        F.lit("density").alias("kind"), "doc_id",
        null_s.alias("txt"), null_s.alias("txt2"), null_s.alias("txt3"),
        F.col("n_links").alias("n1"), F.col("link_chars").alias("n2"),
        F.col("text_chars").alias("n3"), F.col("link_density").alias("d"),
    )
    meta = extract.page_metadata(html).select(
        F.lit("meta").alias("kind"), "doc_id",
        F.col("title").alias("txt"), F.col("h1").alias("txt2"),
        F.col("lang_attr").alias("txt3"),
        F.col("n_anchors").alias("n1"), null_l.alias("n2"),
        null_l.alias("n3"), F.lit(None).cast("double").alias("d"),
    )
    return strip.unionByName(dens).unionByName(meta)


# two-dialect synthetic multi-line text for the line_dedup contract entry
# (only the cast keyword differs): line 0 = the document's own text, then a
# footer line shared by EVERY document, a 7-class and a 3-class modular
# line, and a whitespace-only line (ineligible — must always survive)
def _lines_synth_expr(cast_ty: str) -> str:
    # coalesce: Spark concat NULL-propagates, DuckDB's ignores NULLs —
    # see _phi_text_expr
    return (
        "concat(coalesce(text, ''), chr(10), 'shared footer line', chr(10), "
        "'para ', cast(doc_id % 7 AS {t}), chr(10), '  ', chr(10), "
        "'tail ', cast(doc_id % 3 AS {t}))"
    ).format(t=cast_ty)


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line dedup (operators/spandedup.py:line_dedup,
    one winner aggregate per line fingerprint): the first occurrence of each
    eligible line by (doc_id, line_idx) survives, documents rebuilt in
    line order.  Oracle = FULL DuckDB re-derivation: positional split via
    list comprehension, the identical md5-prefix fingerprint,
    row_number() argmin winners, list_sort rebuild."""
    from deidcm_spark.operators.spandedup import line_dedup

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_lines_synth_expr("STRING")).alias("text")
    )
    return line_dedup(d)


def q_quality_gate(spark, sf_dir):
    """Gopher/C4 rule-cascade quality gate (operators/textops.py) — the
    model-free curation DECISION: which rules each document violates
    (``reasons`` in fixed rule order) and whether it survives.  The
    signals were already driver-oracled via text_stats /
    gopher_repetition; this entry oracle-checks the cascade itself.

    The ``reasons`` array is projected through ``array_join(.., '|')``:
    the driver's pandas canonicalizer sorts cell values and cannot hash
    list-typed cells (r4's one red row), so every contract column must be
    scalar-typed — see CLAUDE.md "Driver canonicalizer contract"."""
    out = textops.quality_gate(_load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.array_join("reasons", "|").alias("reasons"),
        "keep",
    )


def q_quality_classifier(spark, sf_dir):
    """GPT-3-style classifier quality filter, driver-oracled end to end
    (r4 VERDICT item 8 — the last major curation decision-maker without a
    driver-checked row): train the hashed-2-gram Naive Bayes on a
    deterministic class split (doc_id % 3 = 0 → positive, % 3 = 1 →
    negative), score EVERY document, and flag the Pareto gate's keep
    decision.  The DuckDB oracle re-derives weights, bias, w_unseen,
    per-doc logit/prob, the Lomax draw, and keep from the same constants
    (n_buckets=256, ngram=2, portable md5 hash, alpha=9, salt='pareto').

    logit/prob/pareto_draw are rounded by the operators themselves (6 dp)
    before they feed the driver hash; every column is scalar-typed."""
    docs = _load(spark, sf_dir, "documents")
    weights, meta = classify.nb_train(
        docs.filter("doc_id % 3 = 0"), docs.filter("doc_id % 3 = 1"),
        n_buckets=256, ngram=2, hash_impl="portable",
    )
    scored = classify.nb_score(docs, weights, meta)
    return classify.pareto_flag(scored, alpha=9.0, salt="pareto").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "logit",
        "prob",
        "pareto_draw",
        "keep",
    )


def q_extract_main_content(spark, sf_dir):
    """DOM-heuristic extraction into the interleaved span schema.
    Fully oracle-checked since r3: _extract_main_sql re-derives the block
    segmentation + gates over the synthetic page template in DuckDB SQL
    (plus the independent template oracle in tests/test_extract.py)."""
    html = extract.with_html(_load(spark, sf_dir, "documents"))
    out = extract.extract_main_content(html)
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select("doc_id", "pos", "span.kind", "span.text", "span.media_ref")


_PHI_NAMES = ["dupont", "martin", "bernard"]

# deterministic PHI salting of the documents text — one spec, two dialects
def _phi_text_expr(dialect: str) -> str:
    # coalesce(text, ''): Spark concat NULL-propagates, DuckDB concat
    # IGNORES NULL args — a NULL text row would silently diverge the two
    # engines (Spark NULL vs DuckDB footer-only text)
    s = "string" if dialect == "spark" else "varchar"
    return (
        f"concat(coalesce(text, ''), ' seen 2022-03-',"
        f" lpad(cast(doc_id % 28 + 1 as {s}), 2, '0'),"
        f" ' at 09:1', cast(doc_id % 10 as {s}), ':33 by user',"
        f" cast(doc_id as {s}), '@site.fr')"
    )


def q_phi_scrub(spark, sf_dir):
    """Free-text PHI scrub (dates/times/emails/name dictionary) — the
    north_star's regex+dictionary scrubbing, oracle-checked byte-for-byte."""
    d = _load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_phi_text_expr("spark")).alias("text")
    )
    return scrub.scrub_text(d, _PHI_NAMES).select("doc_id", "text")


def _phi_scrub_sql() -> str:
    inner = _phi_text_expr("duckdb")
    expr = scrub.scrub_text_expr(inner, _PHI_NAMES, dialect="duckdb")
    return f"SELECT doc_id, {expr} AS text FROM documents"


def q_phi_scrub_uids(spark, sf_dir):
    """Full scrub incl. consistent salted-hash UID remapping.  Oracle:
    gen_dicom_uid's sha256→first-30-decimal-digits is recomputed in PURE
    DuckDB SQL via 8x32-bit limb long division (duck_oracle.dec30_ctes) —
    an independent arbitrary-precision base conversion, no shared code."""
    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(coalesce(text, ''), ' uid 1.2.840.', cast(doc_id % 50 as string), '.99')"
        ).alias("text"),
    )
    return scrub.scrub_documents(d, ORG_ROOT, _PHI_NAMES).select("doc_id", "text")


def _phi_scrub_uids_sql() -> str:
    frag, last, pseud = dk.gen_dicom_uid_sql("base", "uid", ORG_ROOT)
    chain = scrub.scrub_text_expr(
        f"replace(text0, uid, {pseud})", _PHI_NAMES, dialect="duckdb"
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         concat(coalesce(text, ''), ' uid 1.2.840.', CAST(doc_id % 50 AS varchar), '.99') AS text0,
         '1.2.840.' || CAST(doc_id % 50 AS varchar) || '.99' AS uid
  FROM documents
){frag}
SELECT doc_id, {chain} AS text FROM {last}
"""


def q_layout_parse(spark, sf_dir):
    """PDF/layout lane: deterministic LAYOUT1 payloads parsed into
    reading-order spans, page chrome dropped.  Fully oracle-checked:
    _layout_parse_sql re-derives the LAYOUT1 directive walk in DuckDB."""
    lay = extract.with_layout(_load(spark, sf_dir, "documents"))
    out = extract.parse_layout(lay)
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select("doc_id", "pos", "span.kind", "span.text", "span.media_ref")


# ---------------------------------------------------------------------------
# deid pipeline + media lane — oracle strategy: semantics that SQL cannot
# recompute (sha256→arbitrary-precision decimal inside the recipe engine)
# are checked against the INDEPENDENT pure-Python oracle
# (deidcm_spark/oracle.py — separate implementation, no imports from the
# engine): oracle_sql() embeds its output as a VALUES relation, so the
# driver compares engine vs independent-oracle value hashes.  Where the
# semantics ARE SQL-expressible (gen_dicom_uid via limb long division, the
# media gates, IVF/LSH probe sets), oracle_sql() re-derives them in pure
# DuckDB SQL instead (deidcm_spark/duck_oracle.py).
# ---------------------------------------------------------------------------

# canonical span serialization: one line per span (kind US text US media_ref)
# joined by RS — md5-able identically from SQL and Python
_SPAN_FP = (
    "md5(concat_ws(char(30), transform(spans, "
    "s -> concat_ws(char(31), s.kind, s.text, s.media_ref))))"
)


def _span_fp_py(spans: list[dict]) -> str:
    import hashlib

    blob = "\x1e".join(
        "\x1f".join((s["kind"], s["text"], s["media_ref"])) for s in spans
    )
    return hashlib.md5(blob.encode("utf8")).hexdigest()


def _values_sql(rows, cols: list[str]) -> str:
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({', '.join(cols)})"


def deid_pipeline(spark, sf_dir):
    """Full pipeline over the synthesized skewed corpus; per-doc span count
    + canonical span fingerprint (md5 over the ordered (kind, text,
    media_ref) sequence) — hash-checked against the independent oracle's
    fingerprints of the same deterministic corpus."""
    docs = synth_documents(spark, 300, seed=13, media_rate=0.2, skew=0.05)
    out = deidentify_attributes(docs, ORG_ROOT, SALT)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.expr(_SPAN_FP).alias("span_fp"),
    )


def _deid_pipeline_sql() -> str:
    from deidcm_spark.corpus import doc_spans
    from deidcm_spark.oracle import deidentify_doc_oracle

    rows = []
    for idx in range(300):
        hot = (idx * 2_654_435_761 % 1_000) < 50  # skew=0.05
        doc_id = f"1.2.840.9999.hot.{idx}" if hot else f"1.2.840.13.{idx}"
        spans = doc_spans(idx, 13, 40, 0.2, hot)
        out = deidentify_doc_oracle(doc_id, spans, ORG_ROOT, SALT)
        rows.append((doc_id, len(out), _span_fp_py(out)))
    return _values_sql(rows, ["doc_id", "n_spans", "span_fp"])


def deid_recipe_cases(spark, sf_dir):
    out = deidentify_attributes(case_documents_df(spark), ORG_ROOT, SALT)
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select("doc_id", "pos", "span.kind", "span.text")


def _deid_recipe_cases_sql() -> str:
    from deidcm_spark.corpus import case_documents
    from deidcm_spark.oracle import deidentify_doc_oracle

    rows = []
    for d in case_documents():
        out = deidentify_doc_oracle(d["doc_id"], d["spans"], ORG_ROOT, SALT)
        for pos, s in enumerate(out):
            rows.append((d["doc_id"], pos, s["kind"], s["text"]))
    return _values_sql(rows, ["doc_id", "pos", "kind", "text"])


def deid_ingest_testdata(spark, sf_dir):
    spans = documents_to_spans(_load(spark, sf_dir, "documents"))
    out = deidentify_attributes(spans, ORG_ROOT, SALT, with_metrics=True)
    return out.select(
        "doc_id", F.size("spans").alias("n_spans_out"),
        "n_removed", "n_erased", "n_pseudonymized", "n_kept",
    )


_INGEST_TAGS = [
    "0x00080018", "0x00100010", "0x00080020", "0x00080005", "0x00080080",
]
_INGEST_COM_TAG = "0x00204000"


def _deid_ingest_sql() -> str:
    """Metrics oracle: re-derive the ingested span layout (one row per tag,
    ImageComments weighted by chunk count) and resolve each tag's action
    through the SAME rule pipeline the classification oracle uses (recipe
    VALUES + regex class + odd-group parity + zero-trust default) — counts
    follow from the actions, never hardcoded."""
    recipe_values = ",\n".join(f"('{t}', '{a}')" for t, a in _hex_recipe_rows())
    meta_vals = ", ".join(f"('{t}')" for t in _INGEST_TAGS)
    all_vals = ", ".join(f"('{t}')" for t in _INGEST_TAGS + [_INGEST_COM_TAG])
    # SPEC TWIN: _INGEST_TAGS and this chunk-count expression re-derive the
    # ingest span LAYOUT of deidcm_spark.ingest._SPAN_EXPR (the full-text
    # mirror lives in _ingest_spans_cte) — an ingest-layout change (new
    # meta tag, chunk size) must update BOTH; the coalesce matches
    # ingest's NULL-text hardening
    n_chunks = "CAST(greatest(ceil(length(coalesce(text, '')) / 200.0) - 1, 0) AS int)"
    return f"""
WITH recipe(rtag, action) AS (VALUES {recipe_values}),
resolved AS (
  SELECT t.tag, CASE
    WHEN regexp_matches(t.tag, '{_CLASSIFY_REGEX}') THEN 'RETIRER'
    WHEN CAST(concat('0x', substr(t.tag, 3, 4)) AS integer) % 2 = 1 THEN 'RETIRER'
    ELSE coalesce(r.action, 'RETIRER') END AS act
  FROM (VALUES {all_vals}) t(tag)
  LEFT JOIN recipe r ON t.tag = r.rtag
),
docs AS (
  SELECT CAST(doc_id AS varchar) AS doc_id, 1 + {n_chunks} AS n_com FROM documents
),
spans AS (
  SELECT doc_id, tag, 1 AS w FROM docs CROSS JOIN (VALUES {meta_vals}) m(tag)
  UNION ALL
  SELECT doc_id, '{_INGEST_COM_TAG}', n_com FROM docs
),
counts AS (
  SELECT s.doc_id,
    CAST(coalesce(sum(CASE WHEN act = 'RETIRER' THEN w END), 0) AS int) AS n_removed,
    CAST(coalesce(sum(CASE WHEN act = 'EFFACER' THEN w END), 0) AS int) AS n_erased,
    CAST(coalesce(sum(CASE WHEN act = 'PSEUDONYMISER' THEN w END), 0) AS int) AS n_pseudonymized,
    CAST(coalesce(sum(CASE WHEN act = 'CONSERVER' THEN w END), 0) AS int) AS n_kept,
    CAST(sum(w) AS int) AS n_in
  FROM spans s JOIN resolved ON s.tag = resolved.tag
  GROUP BY s.doc_id
)
SELECT doc_id, n_in - n_removed + 1 AS n_spans_out,
       n_removed, n_erased, n_pseudonymized, n_kept
FROM counts
"""


def q_ingest_spans(spark, sf_dir):
    """The ingest encoding itself (S2/S3): documents_to_spans posexploded —
    value-hash-checked against a DuckDB re-derivation of the span layout."""
    spans = documents_to_spans(_load(spark, sf_dir, "documents"))
    return spans.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select("doc_id", "pos", "span.kind", "span.text", "span.media_ref")


def _ingest_spans_cte(rel: str, p: str) -> str:
    """CTE fragment re-deriving the ingest span layout from any
    (doc_id, text, lang, source) relation ``rel``; CTE names prefixed with
    ``p`` so two snapshots can coexist in one WITH chain (span_diff)."""
    d = "CAST(doc_id AS varchar)"
    # ingest._DID mirror: non-numeric doc_ids (the WARC lane) fall back to
    # the first char's codepoint; NULL text/lang/source coalesce to ''
    did = ("coalesce(try_cast(doc_id AS bigint), "
           "ascii(substring(CAST(doc_id AS varchar), 1, 1)), 0)")
    n_chunks = "CAST(greatest(ceil(length(coalesce(text, '')) / 200.0) - 1, 0) AS int)"
    return f"""{p}meta AS (
  SELECT {d} AS doc_id, 0 AS pos, 'text' AS kind,
         'SOPInstanceUID_0x00080018_UI_1____=1.2.840.' || {d} AS text,
         '' AS media_ref FROM {rel}
  UNION ALL
  SELECT {d}, 1, 'text',
         'PatientName_0x00100010_PN_1____=Doc ' || {d} || ' Author', ''
  FROM {rel}
  UNION ALL
  SELECT {d}, 2, 'text',
         'StudyDate_0x00080020_DA_1____=2023'
         || lpad(CAST({did} % 12 + 1 AS varchar), 2, '0')
         || lpad(CAST({did} % 28 + 1 AS varchar), 2, '0'), ''
  FROM {rel}
  UNION ALL
  SELECT {d}, 3, 'text',
         'SpecificCharacterSet_0x00080005_CS_1____=' || coalesce(lang, ''), '' FROM {rel}
  UNION ALL
  SELECT {d}, 4, 'text',
         'InstitutionName_0x00080080_LO_1____=' || coalesce(source, ''), '' FROM {rel}
),
{p}chunks AS (
  SELECT {d} AS doc_id, 5 + i AS pos, 'text' AS kind,
         'ImageComments_0x00204000_LT_1____=' || substr(coalesce(text, ''), i * 200 + 1, 200) AS text,
         '' AS media_ref
  FROM {rel}, unnest(generate_series(0, {n_chunks})) AS t(i)
),
{p}spans AS (SELECT * FROM {p}meta UNION ALL SELECT * FROM {p}chunks)"""


def _ingest_spans_sql() -> str:
    return f"WITH {_ingest_spans_cte('documents', 'ig_')}\nSELECT * FROM ig_spans"


def q_span_diff(spark, sf_dir):
    """R4/R5 dataset diff as a distributed operator: ingest the documents
    table twice — once as-is, once with a text-mutating 'edit' (append a
    tail, which changes the last comment chunk and can add a chunk when the
    length crosses a 200-char boundary) — and diff the two span snapshots
    position-wise.  The oracle re-derives BOTH snapshots and the same
    full-outer comparison in SQL."""
    from deidcm_spark.export import span_diff

    docs = _load(spark, sf_dir, "documents")
    edited = docs.withColumn("text", F.expr("concat(text, ' snapshot2 tail')"))
    return span_diff(documents_to_spans(docs), documents_to_spans(edited))


def _span_diff_sql() -> str:
    # length-prefixed injective signature fields (export.span_diff mirror:
    # concat_ws skips NULLs, so unprefixed fields alias adjacent values)
    def sf(f: str) -> str:
        return (f"CASE WHEN {f} IS NULL THEN chr(29) "
                f"ELSE concat(cast(length({f}) AS varchar), ':', {f}) END")

    sig = f"concat_ws(chr(31), {sf('kind')}, {sf('text')}, {sf('media_ref')})"
    return f"""
WITH docs2 AS (
  SELECT doc_id, text || ' snapshot2 tail' AS text, lang, source FROM documents
),
{_ingest_spans_cte('documents', 'sa_')},
{_ingest_spans_cte('docs2', 'sb_')},
fa AS (SELECT doc_id, pos, {sig} AS sig_a FROM sa_spans),
fb AS (SELECT doc_id, pos, {sig} AS sig_b FROM sb_spans),
j AS (SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id, sig_a, sig_b
      FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id AND fa.pos = fb.pos),
agg AS (
  SELECT doc_id,
         CAST(count(sig_a) AS int) AS na,
         CAST(count(sig_b) AS int) AS nb,
         CAST(sum(CASE WHEN sig_a = sig_b THEN 1 ELSE 0 END) AS int) AS nm
  FROM j GROUP BY doc_id
),
u AS (SELECT doc_id FROM documents UNION SELECT doc_id FROM docs2)
SELECT u.doc_id,
       coalesce(na, 0) AS n_spans_a,
       coalesce(nb, 0) AS n_spans_b,
       coalesce(nm, 0) AS n_matching,
       CAST(CASE WHEN coalesce(na, 0) = coalesce(nb, 0)
                  AND coalesce(nm, 0) = coalesce(na, 0)
            THEN 1 ELSE 0 END AS int) AS equal
FROM u LEFT JOIN agg ON u.doc_id = agg.doc_id
"""


def series_group_count(spark, sf_dir):
    """A2 analogue (show_series, utils.py:36-63): group documents by a tag's
    value over the INGESTED span corpus — counts AND the sorted member list
    (the reference's ``dico_series[data].append(file)``), emitted as a
    comma-joined string so the value hash is engine-portable; the oracle
    re-derives the same series directly from the source table."""
    spans = documents_to_spans(_load(spark, sf_dir, "documents"))
    exploded = spans.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.text").startswith("SpecificCharacterSet_0x00080005_CS_1____=")
    )
    return (
        exploded.select(
            "doc_id",
            F.expr("substring(s.text, length('SpecificCharacterSet_0x00080005_CS_1____=') + 1)").alias("series_value"),
        )
        .groupBy("series_value")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_list("doc_id"))).alias("members"),
        )
    )


def _sql_boxes(spark, sf_dir):
    """The SQL-expressible OCR-box corpus (md5 arithmetic over doc_id) —
    shared two-dialect spec with the DuckDB oracle, derived from the
    documents table so both engines see identical boxes."""
    _load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(dk.boxes_sql("spark"))


def ocr_recognition_metrics(spark, sf_dir):
    """A3/A4/A5 composite: stub detections (confidence + length gates)
    scored against ground truth over the SQL box corpus; the oracle
    recomputes the confusion matrix + PRF from the same derivation."""
    from deidcm_spark.operators.verification import confusion_matrix, prf_metrics

    boxes = _sql_boxes(spark, sf_dir)
    universe = spark.sql(dk.media_universe_sql("spark"))
    detected = boxes.filter("confidence > 0.3 and length(word) > 1").select("media_ref", "word")
    truth = boxes.select("media_ref", "word")
    return prf_metrics(confusion_matrix(universe, detected, truth))


def _ocr_metrics_sql() -> str:
    return f"""
WITH boxes AS ({dk.boxes_sql("duckdb")}),
univ AS ({dk.media_universe_sql("duckdb")}),
t AS (SELECT media_ref, count(*) AS n_true FROM boxes GROUP BY 1),
d AS (SELECT media_ref, count(*) AS n_det FROM boxes
      WHERE confidence > 0.3 AND length(word) > 1 GROUP BY 1),
u AS (
  SELECT univ.media_ref, coalesce(n_true, 0) AS nt, coalesce(n_det, 0) AS nd
  FROM univ LEFT JOIN t USING (media_ref) LEFT JOIN d USING (media_ref)
),
cm AS (
  SELECT
    CAST(sum(CASE WHEN nt > 0 AND nd > 0 THEN 1 ELSE 0 END) AS bigint) AS tp,
    CAST(sum(CASE WHEN nt > 0 AND nd = 0 THEN 1 ELSE 0 END) AS bigint) AS fn,
    CAST(sum(CASE WHEN nt = 0 AND nd > 0 THEN 1 ELSE 0 END) AS bigint) AS fp,
    CAST(sum(CASE WHEN nt = 0 AND nd = 0 THEN 1 ELSE 0 END) AS bigint) AS tn
  FROM u
)
SELECT tp, fn, fp, tn,
       round(tp / greatest(tp + fp, 1), 4) AS "precision",
       round(tp / greatest(tp + fn, 1), 4) AS recall,
       round(2 * tp / greatest(2 * tp + fp + fn, 1), 4) AS f1,
       round((tp + tn) / greatest(tp + tn + fp + fn, 1), 4) AS accuracy
FROM cm
"""


def media_redaction(spark, sf_dir):
    """Redaction-gate lane, hash-checked end to end: SQL box corpus →
    redaction_plan (first-box confidence gate, word guards, authorized-word
    exemption, sign-aware margin, clamping) → applied fill rectangles.  The
    pixel fill consuming these rects stays pixel-exact-pytest-verified
    (tests/test_media.py) — raw pixel md5 is not SQL-recomputable."""
    boxes = _sql_boxes(spark, sf_dir)
    return redaction_plan(boxes, margin=8, width=dk.MEDIA_W, height=dk.MEDIA_H)


def _media_redaction_sql() -> str:
    words = ", ".join(f"'{w}'" for w in sorted(load_authorized_words()))
    return f"""
WITH boxes AS ({dk.boxes_sql("duckdb")}),
g AS (
  SELECT *, first_value(confidence)
            OVER (PARTITION BY media_ref ORDER BY box_idx) AS fc
  FROM boxes
),
expanded AS (
  SELECT media_ref, box_idx,
    CASE WHEN x1 < x2 THEN x1 - 8 ELSE x1 + 8 END AS e_x1,
    CASE WHEN x1 < x2 THEN x2 + 8 ELSE x2 - 8 END AS e_x2,
    CASE WHEN y1 < y2 THEN y1 - 8 ELSE y1 + 8 END AS e_y1,
    CASE WHEN y1 < y2 THEN y2 + 8 ELSE y2 - 8 END AS e_y2
  FROM g
  WHERE fc > 0.3 AND length(word) > 1 AND upper(word) NOT IN ({words})
),
clamped AS (
  SELECT media_ref, box_idx,
    greatest(0, least(e_x1, e_x2)) AS xa,
    greatest(0, least(e_y1, e_y2)) AS ya,
    least({dk.MEDIA_W - 1}, greatest(e_x1, e_x2)) AS xb,
    least({dk.MEDIA_H - 1}, greatest(e_y1, e_y2)) AS yb
  FROM expanded
)
SELECT * FROM clamped WHERE xa <= xb AND ya <= yb
"""


_ANN_PLANES = 4
_ANN_DIM = 64


def ann_lsh(spark, sf_dir):
    """Sign-LSH ANN with Hamming-1 multi-probe; the oracle re-derives the
    SAME semantics in SQL — hyperplane sign signatures (identical IEEE
    accumulation order), the ≤1-bit probe set, exact-cosine rerank."""
    emb = _load(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    return similarity.ann_lsh_bucketed(emb, qv, k=10, n_planes=_ANN_PLANES)


def _ann_lsh_sql() -> str:
    vbits = dk.sign_bits_duck("embedding", _ANN_PLANES, _ANN_DIM)
    qbits = dk.sign_bits_duck("qe", _ANN_PLANES, _ANN_DIM)
    vsig = " || ".join(vbits)
    qsig = " || ".join(qbits)
    mism = " + ".join(
        f"(CASE WHEN substr(sig, {p + 1}, 1) = substr(qs, {p + 1}, 1) THEN 0 ELSE 1 END)"
        for p in range(_ANN_PLANES)
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qsig AS (SELECT {qsig} AS qs FROM q),
sigs AS (SELECT vec_id, embedding, {vsig} AS sig FROM embeddings),
cand AS (
  SELECT s.vec_id, s.embedding FROM sigs s, qsig
  WHERE {mism} <= 1
),
pairs AS (
  SELECT c.vec_id, unnest(c.embedding) AS ev, unnest(q.qe) AS qv
  FROM cand c CROSS JOIN q
),
dots AS (
  SELECT vec_id,
         sum(CAST(ev AS double) * CAST(qv AS double)) AS dot,
         sum(CAST(ev AS double) * CAST(ev AS double)) AS ne,
         sum(CAST(qv AS double) * CAST(qv AS double)) AS nq
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
FROM dots ORDER BY cosine DESC, vec_id LIMIT 10
"""


def ann_ivf(spark, sf_dir):
    """IVF ANN with the deterministic hash-seeded codebook (lloyd_iters=0
    so the codebook is SQL-derivable: the 8 hash-ordered seed embeddings);
    coarse-quantize, probe the 3 nearest lists, exact rerank.  The k-means
    -refined codebook path (lloyd_iters>=1) is pytest-verified for recall
    and determinism in tests/test_training_ops.py."""
    emb = _load(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    return similarity.ann_ivf(emb, qv, k=10, n_centroids=8, nprobe=3, lloyd_iters=0)


def _ann_ivf_sql() -> str:
    return """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS varchar)), vec_id) - 1 AS c,
         embedding AS ce
  FROM embeddings ORDER BY md5(CAST(vec_id AS varchar)), vec_id LIMIT 8
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vc_pairs AS (
  SELECT e.vec_id, s.c, unnest(e.embedding) AS ev, unnest(s.ce) AS cv
  FROM embeddings e CROSS JOIN seeds s
),
vc AS (
  SELECT vec_id, c,
         sum(CAST(ev AS double) * CAST(cv AS double))
           / (sqrt(sum(CAST(ev AS double) * CAST(ev AS double)))
              * sqrt(sum(CAST(cv AS double) * CAST(cv AS double)))) AS score
  FROM vc_pairs GROUP BY vec_id, c
),
ass AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn
    FROM vc
  ) WHERE rn = 1
),
qc_pairs AS (
  SELECT s.c, unnest(q.qe) AS qv, unnest(s.ce) AS cv FROM q CROSS JOIN seeds s
),
qprobe AS (
  SELECT c FROM (
    SELECT c,
           sum(CAST(qv AS double) * CAST(cv AS double))
             / (sqrt(sum(CAST(qv AS double) * CAST(qv AS double)))
                * sqrt(sum(CAST(cv AS double) * CAST(cv AS double)))) AS score
    FROM qc_pairs GROUP BY c
  ) ORDER BY score DESC, c LIMIT 3
),
cand AS (SELECT vec_id FROM ass JOIN qprobe USING (c)),
pairs AS (
  SELECT e.vec_id, unnest(e.embedding) AS ev, unnest(q.qe) AS qv
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
),
dots AS (
  SELECT vec_id,
         sum(CAST(ev AS double) * CAST(qv AS double)) AS dot,
         sum(CAST(ev AS double) * CAST(ev AS double)) AS ne,
         sum(CAST(qv AS double) * CAST(qv AS double)) AS nq
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
FROM dots ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest sf0.001 documents → span form → de-identify → metrics."""
    return deid_ingest_testdata(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "join_customer_nation_region": join_customer_nation_region,
        "anti_join_customers_without_orders": anti_join_customers_without_orders,
        "orders_priority_counts": orders_priority_counts,
        "events_rollup": events_rollup,
        "events_sessionize": events_sessionize,
        "window_analytics": window_analytics,
        "url_canonicalize": url_canonicalize,
        "rule_classification": rule_classification,
        "scalar_kernels": scalar_kernels,
        "levenshtein_part_names": levenshtein_part_names,
        "text_stats": q_text_stats,
        "gopher_repetition": q_gopher_repetition,
        "decontaminate": q_decontaminate,
        "passage_dedup": q_passage_dedup,
        "events_asof_join": events_asof_join,
        "vocab_top_terms": q_vocab_top_terms,
        "tfidf_top_term": q_tfidf_top_term,
        "dedup_decisions": q_dedup_decisions,
        "neardup_components": q_neardup_components,
        "ocr_word_recognition": ocr_word_recognition,
        "pack_shards": q_pack_shards,
        "stratified_sample": q_stratified_sample,
        "dataset_split": q_dataset_split,
        "dedup_exact": q_dedup_exact,
        "events_range_join": events_range_join,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "quality_classifier": q_quality_classifier,
        "embedding_neardup": q_embedding_neardup,
        "ann_threshold": q_ann_threshold,
        "html_signals": q_html_signals,
        "line_dedup": q_line_dedup,
        "quality_gate": q_quality_gate,
        "ingest_spans": q_ingest_spans,
        "span_diff": q_span_diff,
        "phi_scrub": q_phi_scrub,
        "extract_main_content": q_extract_main_content,
        "layout_parse": q_layout_parse,
        "phi_scrub_uids": q_phi_scrub_uids,
        "ann_ivf": ann_ivf,
        "deid_pipeline": deid_pipeline,
        "deid_recipe_cases": deid_recipe_cases,
        "deid_ingest_testdata": deid_ingest_testdata,
        "media_redaction": media_redaction,
        "ann_lsh": ann_lsh,
        "ocr_recognition_metrics": ocr_recognition_metrics,
        "series_group_count": series_group_count,
    }


# DuckDB-side shared token/shingle fragments (spec mirror of textops/dedup)
_DT = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
_DSH = (
    f"CASE WHEN len({_DT}) >= 3 THEN "
    f"list_distinct([{_DT}[i] || ' ' || {_DT}[i+1] || ' ' || {_DT}[i+2] "
    f"for i in range(1, len({_DT}) - 1)]) ELSE [] END"
)

_STOP_SQL = "['" + "','".join(textops.EN_STOPWORDS) + "']"


_DUCK_SHINGLE_H = (
    f"(CAST(concat('0x', substr(md5(s), 1, 15)) AS bigint) % {dedup.MINHASH_P})"
)


def _duck_mh(i: int) -> str:
    return (
        f"list_aggregate(list_transform(sh, s -> "
        f"({_DUCK_SHINGLE_H} * {dedup.MINHASH_A[i]} + {dedup.MINHASH_B[i]})"
        f" % {dedup.MINHASH_P}), 'min') AS mh{i}"
    )


def _minhash_sql() -> str:
    sigs = ", ".join(_duck_mh(i) for i in range(dedup.N_MINHASH))
    return f"""
SELECT doc_id, CAST(len(sh) AS bigint) AS n_shingles, {sigs}
FROM (SELECT doc_id, {_DSH} AS sh FROM documents)
"""


def _bands_sql(source_sql: str) -> str:
    """(doc_id, band_idx, band_key) rows from a doubled-corpus source."""
    sig_cols = ", ".join(_duck_mh(i) for i in range(dedup.N_MINHASH))
    cast = "CAST(mh{} AS varchar)"
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5({cast.format(b*4)} || '|' || {cast.format(b*4+1)} || '|' || "
        f"{cast.format(b*4+2)} || '|' || {cast.format(b*4+3)}) AS band_key "
        f"FROM sig"
        for b in range(dedup.N_BANDS)
    )
    return f"""
WITH src AS ({source_sql}),
shs AS (SELECT doc_id, {_DSH} AS sh FROM src),
sig AS (SELECT doc_id, {sig_cols} FROM shs WHERE len(sh) > 0),
bands_all AS ({band_selects}),
small AS (SELECT band_idx, band_key FROM bands_all
          GROUP BY band_idx, band_key HAVING count(*) <= 100),
bands AS (SELECT bands_all.* FROM bands_all JOIN small USING (band_idx, band_key))
"""


def _simhash_core(source_sql: str, bits: int = 16, p: str = "") -> str:
    """Prefixed CTE chain (no leading WITH) so two simhash derivations —
    the 16-bit signature lane and the 32-bit pair lane — compose into the
    one merged-entry statement (r5 slot merge)."""
    h = "CAST(concat('0x', substr(md5(t), 1, 8)) AS bigint)"
    bit_sums = ", ".join(
        f"sum((({h} >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(bits)
    )
    total = " + ".join(f"(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(bits))
    return f"""
{p}src AS ({source_sql}),
{p}toks AS (SELECT doc_id, unnest(list_distinct({_DT})) AS t FROM {p}src),
{p}bitsums AS (SELECT doc_id, {bit_sums} FROM {p}toks GROUP BY doc_id),
{p}alldocs AS (SELECT doc_id FROM {p}src),
{p}sims AS (
  SELECT {p}alldocs.doc_id, CAST(coalesce({total}, 0) AS bigint) AS simhash
  FROM {p}alldocs LEFT JOIN {p}bitsums ON {p}alldocs.doc_id = {p}bitsums.doc_id
)"""


def _simhash_sql() -> str:
    """Tagged union mirroring q_simhash: 'sig' rows = 16-bit simhash per
    document; 'pair' rows = pigeonhole-banded 32-bit near-dup pairs
    (4 bands x 8 bits; pairs sharing a band, exact hamming via
    bit_count(xor()) <= 3 — mirrors dedup.simhash_neardup_pairs)."""
    # token-less docs never band (they all collapse to simhash 0 and
    # would pair pairwise) — p_bitsums only holds docs with >= 1 token,
    # mirroring the size(TOKENS) > 0 filter in simhash_neardup_pairs
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx, "
        f"(simhash >> {b * 8}) & 255 AS band_key FROM p_sims "
        f"WHERE doc_id IN (SELECT doc_id FROM p_bitsums)"
        for b in range(4)
    )
    return f"""
WITH {_simhash_core("SELECT doc_id, text FROM documents", 16, "s_")},
{_simhash_core(_DOUBLED_SQL, 32, "p_")},
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS sa, r.simhash AS sb
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT 'sig' AS tag, doc_id AS doc_a, CAST(-1 AS bigint) AS doc_b,
       simhash AS val
FROM s_sims
UNION ALL
SELECT 'pair' AS tag, doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS bigint) AS val
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def _quality_classifier_sql() -> str:
    """Full re-derivation of the hashed-2-gram NB + Pareto gate from the
    published constants (classify.nb_train/nb_score/pareto_flag mirror):
    bucket = first-8-hex-md5(gram) % 256, Laplace(+1) weights rounded to
    9 dp, bias = ln(n_pos/n_neg), logit = bias + Σ w(bucket) rounded 6 dp,
    prob = sigmoid, draw = Lomax(9) inverse-CDF of the doc_id hash."""
    b = 256
    grams = "[dt[i] || ' ' || dt[i + 1] for i in range(1, len(dt))]"
    h32 = "CAST(concat('0x', substr(md5({v}), 1, 8)) AS bigint)"
    u = ("(" + h32.format(v="CAST(doc_id AS varchar) || ':pareto'")
         + " + 0.5) / 4294967296.0")
    return f"""
WITH g2 AS (
  SELECT doc_id, unnest({grams}) AS g
  FROM (SELECT doc_id, {_DT} AS dt FROM documents)
),
gb AS (SELECT doc_id, {h32.format(v='g')} % {b} AS bucket FROM g2),
cp AS (SELECT bucket, count(*) AS n_pos FROM gb WHERE doc_id % 3 = 0 GROUP BY bucket),
cn AS (SELECT bucket, count(*) AS n_neg FROM gb WHERE doc_id % 3 = 1 GROUP BY bucket),
tot AS (
  SELECT (SELECT coalesce(sum(n_pos), 0) FROM cp) AS t_pos,
         (SELECT coalesce(sum(n_neg), 0) FROM cn) AS t_neg,
         (SELECT count(*) FROM documents WHERE doc_id % 3 = 0) AS nd_pos,
         (SELECT count(*) FROM documents WHERE doc_id % 3 = 1) AS nd_neg
),
w AS (
  SELECT coalesce(cp.bucket, cn.bucket) AS bucket,
         round(ln((coalesce(n_pos, 0) + 1) / (t_pos + {b}.0))
               - ln((coalesce(n_neg, 0) + 1) / (t_neg + {b}.0)), 9) AS w
  FROM cp FULL OUTER JOIN cn ON cp.bucket = cn.bucket, tot
),
meta AS (
  SELECT round(ln(nd_pos) - ln(nd_neg), 9) AS bias,
         round(ln(1.0 / (t_pos + {b})) - ln(1.0 / (t_neg + {b})), 9) AS w_unseen
  FROM tot
),
ds AS (
  SELECT gb.doc_id, count(*) AS n_grams,
         sum(coalesce(w.w, (SELECT w_unseen FROM meta))) AS wsum
  FROM gb LEFT JOIN w USING (bucket) GROUP BY gb.doc_id
),
sc AS (
  SELECT d.doc_id, CAST(coalesce(ds.n_grams, 0) AS bigint) AS n_grams,
         round((SELECT bias FROM meta) + coalesce(ds.wsum, 0.0), 6) AS logit
  FROM documents d LEFT JOIN ds USING (doc_id)
),
fin AS (
  SELECT doc_id, n_grams, logit,
         round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
         round(power(1.0 - ({u}), {-1.0 / 9.0!r}) - 1.0, 6) AS pareto_draw
  FROM sc
)
SELECT doc_id, n_grams, logit, prob, pareto_draw,
       (prob > 1.0 - pareto_draw) AS keep
FROM fin
"""


def _extract_main_sql() -> str:
    """Independent SQL derivation of the DOM extraction over the template
    corpus: spans are [h1, p1?, img, p2?] — the halves survive the 3-word
    gate; positions shift when a half is dropped (tests/test_extract.py is
    the same oracle in pandas form)."""
    half = "CAST(ceil(length(text) / 2.0) AS int)"
    h1 = f"trim(regexp_replace(substr(text, 1, {half}), '\\s+', ' ', 'g'))"
    h2 = f"trim(regexp_replace(substr(text, {half} + 1), '\\s+', ' ', 'g'))"
    words = "len(list_filter(regexp_split_to_array({}, '\\s+'), x -> x != ''))"
    return f"""
WITH base AS (
  SELECT doc_id, {h1} AS p1, {h2} AS p2,
         ({words.format(h1)} >= 3) AS k1, ({words.format(h2)} >= 3) AS k2
  FROM documents
),
spans AS (
  SELECT doc_id, 0 AS pos, 'text' AS kind,
         'Document ' || CAST(doc_id AS varchar) AS text, '' AS media_ref
  FROM base
  UNION ALL
  SELECT doc_id, 1, 'text', p1, '' FROM base WHERE k1
  UNION ALL
  SELECT doc_id, 1 + CASE WHEN k1 THEN 1 ELSE 0 END, 'media', '',
         'media/' || CAST(doc_id AS varchar) || '_0.png' FROM base
  UNION ALL
  SELECT doc_id, 2 + CASE WHEN k1 THEN 1 ELSE 0 END, 'text', p2, ''
  FROM base WHERE k2
)
SELECT CAST(doc_id AS varchar) AS doc_id, pos, kind, text, media_ref FROM spans
"""


def _layout_parse_sql() -> str:
    """Layout lane oracle: reading order of the two-page template is fixed
    — [heading, body1, img, body2]; chrome roles never emit."""
    half = "CAST(ceil(length(text) / 2.0) AS int)"
    return f"""
WITH spans AS (
  SELECT doc_id, 0 AS pos, 'text' AS kind,
         'Document ' || CAST(doc_id AS varchar) AS text, '' AS media_ref
  FROM documents
  UNION ALL
  SELECT doc_id, 1, 'text', substr(text, 1, {half}), '' FROM documents
  UNION ALL
  SELECT doc_id, 2, 'media', '',
         'media/' || CAST(doc_id AS varchar) || '_0.png' FROM documents
  UNION ALL
  SELECT doc_id, 3, 'text', substr(text, {half} + 1), '' FROM documents
)
SELECT CAST(doc_id AS varchar) AS doc_id, pos, kind, text, media_ref FROM spans
"""


def _html_strip_sql() -> str:
    h = extract.html_expr("duckdb")
    strip = extract.strip_tags_expr(h, "duckdb")
    return f"""
SELECT doc_id, {strip} AS plain_text, CAST(length({strip}) AS bigint) AS n_chars
FROM documents
"""


def _html_signals_sql() -> str:
    """UNION ALL mirror of q_html_signals — the same three dialect-paired
    expression sets the r2 per-lane oracles used, union-tagged."""
    h = extract.html_expr("duckdb")
    strip = extract.strip_tags_expr(h, "duckdb")
    dens = extract.link_density_cols(h, "duckdb")
    meta = extract.page_metadata_cols(h, "duckdb")
    return f"""
SELECT 'strip' AS kind, doc_id, {strip} AS txt,
       CAST(NULL AS varchar) AS txt2, CAST(NULL AS varchar) AS txt3,
       CAST(length({strip}) AS bigint) AS n1,
       CAST(NULL AS bigint) AS n2, CAST(NULL AS bigint) AS n3,
       CAST(NULL AS double) AS d
FROM documents
UNION ALL
SELECT 'density', doc_id, NULL, NULL, NULL,
       {dens['n_links']}, {dens['link_chars']}, {dens['text_chars']},
       {dens['link_density']}
FROM documents
UNION ALL
SELECT 'meta', doc_id, {meta['title']}, {meta['h1']}, {meta['lang_attr']},
       {meta['n_anchors']}, NULL, NULL, NULL
FROM documents
"""


def _line_dedup_sql() -> str:
    fp = "md5(line)"  # full 128-bit hex — mirrors spandedup._fp_expr
    return f"""
WITH d AS (SELECT doc_id, {_lines_synth_expr("VARCHAR")} AS text FROM documents),
l AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM d),
lines AS (
  SELECT doc_id,
         unnest([{{'pos': i - 1, 'line': ls[i]}} for i in range(1, len(ls) + 1)],
                recursive := true)
  FROM l
),
f AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(trim(line)) >= 1 THEN {fp} END AS fp
  FROM lines
),
k AS (
  SELECT doc_id, pos, line,
         (fp IS NULL) OR
         (row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1) AS keep
  FROM f
)
SELECT doc_id,
       array_to_string(
         [s.line for s in list_sort(list({{'pos': pos, 'keep': keep, 'line': line}})) if s.keep],
         chr(10)) AS text,
       CAST(count(*) AS int) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS int) AS n_dropped
FROM k GROUP BY doc_id
"""


def _quality_gate_sql() -> str:
    """Rule-for-rule DuckDB mirror of textops.quality_gate: the same
    signal expressions the (hash-green) text_stats / gopher_repetition
    oracles use, thresholds read from the SAME DEFAULT_GATES constants
    the engine reads (never duplicated), reasons in the engine's rule
    order."""
    g = textops.DEFAULT_GATES
    stop = f"len(list_filter(toks, t -> list_contains({{stop_sql}}, t)))".format(
        stop_sql=_STOP_SQL
    )
    url = textops.url_pat_sql("duckdb")
    g2 = "[toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]"
    g3 = "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]"
    reasons = f"""list_filter([
      CASE WHEN n_tokens < {g['min_tokens']} THEN 'too_few_tokens' END,
      CASE WHEN n_tokens > {g['max_tokens']} THEN 'too_many_tokens' END,
      CASE WHEN avg_token_len < {g['min_avg_token_len']} THEN 'avg_token_too_short' END,
      CASE WHEN avg_token_len > {g['max_avg_token_len']} THEN 'avg_token_too_long' END,
      CASE WHEN repetition_ratio > {g['max_repetition_ratio']} THEN 'repetitive_tokens' END,
      CASE WHEN digit_ratio > {g['max_digit_ratio']} THEN 'digit_heavy' END,
      CASE WHEN upper_ratio > {g['max_upper_ratio']} THEN 'upper_heavy' END,
      CASE WHEN stopword_ratio < {g['min_stopword_ratio']} THEN 'stopword_poor' END,
      CASE WHEN top2_frac > {g['max_top2_frac']} THEN 'top2gram_dominated' END,
      CASE WHEN dup3_frac > {g['max_dup3_frac']} THEN 'dup3gram_heavy' END,
      CASE WHEN n_urls > {g['max_urls']} THEN 'url_heavy' END
    ], x -> x IS NOT NULL)"""
    return f"""
WITH t AS (SELECT doc_id, text, {_DT} AS toks
           FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS bigint) AS n_tokens,
    round(length(text) / greatest(len(toks), 1), 3) AS avg_token_len,
    round(1.0 - len(list_distinct(toks)) / greatest(len(toks), 1), 4) AS repetition_ratio,
    round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1), 4) AS digit_ratio,
    round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / greatest(length(text), 1), 4) AS upper_ratio,
    round({stop} / greatest(len(toks), 1), 4) AS stopword_ratio,
    CAST(len(regexp_extract_all(text, '{url}')) AS bigint) AS n_urls
  FROM t
),
c2 AS (SELECT doc_id, g, count(*) AS n FROM (SELECT doc_id, unnest({g2}) AS g FROM t WHERE len(toks) >= 2) GROUP BY 1, 2),
a2 AS (SELECT doc_id, round(max(n) / sum(n), 4) AS top2_frac FROM c2 GROUP BY 1),
c3 AS (SELECT doc_id, g, count(*) AS n FROM (SELECT doc_id, unnest({g3}) AS g FROM t WHERE len(toks) >= 3) GROUP BY 1, 2),
a3 AS (SELECT doc_id, round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) / sum(n), 4) AS dup3_frac FROM c3 GROUP BY 1),
j AS (
  SELECT s.*, coalesce(a2.top2_frac, 0) AS top2_frac, coalesce(a3.dup3_frac, 0) AS dup3_frac
  FROM s LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
)
SELECT doc_id, n_tokens,
       coalesce(array_to_string({reasons}, '|'), '') AS reasons,
       len({reasons}) = 0 AS keep
FROM j
"""


_COS_SQL = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         unnest(e.embedding) AS ev, unnest(q.qe) AS qv
  FROM embeddings e CROSS JOIN q
),
dots AS (
  SELECT vec_id,
         sum(CAST(ev AS double) * CAST(qv AS double)) AS dot,
         sum(CAST(ev AS double) * CAST(ev AS double)) AS ne,
         sum(CAST(qv AS double) * CAST(qv AS double)) AS nq
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS cosine
FROM dots WHERE round(dot / (sqrt(ne) * sqrt(nq)), 4) >= 0.25
"""

def _embedding_neardup_sql(n_planes: int = 16, n_bands: int = 4) -> str:
    """Mirror of dedup.embedding_neardup_pairs: the SAME sign-LSH band
    blocking (identical hyperplane spec + IEEE accumulation order) followed
    by exact-cosine verify — so Spark/oracle equality is STRUCTURAL, not a
    property of the corpus (a brute-force oracle would diverge whenever the
    probabilistic blocking misses a pair)."""
    per_band = n_planes // n_bands
    bits = dk.sign_bits_duck("embedding", n_planes, _ANN_DIM)
    band_keys = [
        " || ".join(bits[b * per_band + j] for j in range(per_band))
        for b in range(n_bands)
    ]
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS bi, k{b} AS bk FROM sigs" for b in range(n_bands)
    )
    key_cols = ", ".join(f"({k}) AS k{b}" for b, k in enumerate(band_keys))
    return f"""
WITH src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
),
sigs AS (SELECT vec_id, {key_cols} FROM src WHERE embedding IS NOT NULL),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM bands l JOIN bands r ON l.bi = r.bi AND l.bk = r.bk AND l.vec_id < r.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         unnest(a.embedding) AS av, unnest(b.embedding) AS bv
  FROM cand c JOIN src a ON a.vec_id = c.id_a JOIN src b ON b.vec_id = c.id_b
),
dots AS (
  SELECT id_a, id_b,
         sum(CAST(av AS double) * CAST(bv AS double)) AS dot,
         sum(CAST(av AS double) * CAST(av AS double)) AS na,
         sum(CAST(bv AS double) * CAST(bv AS double)) AS nb
  FROM pairs GROUP BY id_a, id_b
)
SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cosine
FROM dots WHERE round(dot / (sqrt(na) * sqrt(nb)), 4) >= 0.999
"""


@lru_cache(maxsize=1)
def _oracle_sql_cached() -> dict[str, str]:
    jac = _bands_sql(_DOUBLED_SQL)
    return {
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "join_customer_nation_region": """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "anti_join_customers_without_orders": """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
        "orders_priority_counts": """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderpriority
""",
        "events_rollup": """
SELECT date_trunc('hour', ts) AS bucket, 'hour' AS granularity, event_type,
       count(*) AS n_events, round(sum(value), 3) AS sum_value,
       round(min(value), 3) AS min_value, round(max(value), 3) AS max_value
FROM events GROUP BY 1, 3
UNION ALL
SELECT date_trunc('day', ts), 'day', event_type,
       count(*), round(sum(value), 3), round(min(value), 3), round(max(value), 3)
FROM events GROUP BY 1, 3
UNION ALL
SELECT date_trunc('week', ts), 'week', event_type,
       count(*), round(sum(value), 3), round(min(value), 3), round(max(value), 3)
FROM events GROUP BY 1, 3
""",
        "events_sessionize": _EVENTS_SESSIONIZE_SQL,
        "window_analytics": _WINDOW_ANALYTICS_SQL,
        "url_canonicalize": _URL_CANON_SQL,
        "rule_classification": _rule_classification_sql(),
        "scalar_kernels": """
SELECT 'date' AS family, CAST(o_orderkey AS bigint) AS key,
       concat(substr(strftime(o_orderdate, '%Y%m%d'), 1, 4), '0101') AS v1,
       strftime(CAST(o_orderdate AS date) - INTERVAL 100 DAY, '%Y%m%d') AS v2,
       '000000' AS v3
FROM orders WHERE o_orderkey <= 2000
UNION ALL
SELECT 'hash' AS family, CAST(c_custkey AS bigint) AS key,
       sha256(c_name) AS v1,
       to_base64(CAST(substr(sha256(c_name), 1, 16) AS blob)) AS v2,
       to_base64(CAST(c_name AS blob)) AS v3
FROM customer WHERE c_custkey <= 500
""",
        "levenshtein_part_names": """
SELECT p_partkey, levenshtein(p_name, 'standard widget case') AS lev_dist
FROM part WHERE p_partkey <= 300
""",
        "text_stats": _text_stats_sql(),
        "gopher_repetition": _gopher_repetition_sql(),
        "decontaminate": _decontaminate_sql(),
        "passage_dedup": _passage_dedup_sql(),
        "events_asof_join": _EVENTS_ASOF_SQL,
        "dataset_split": """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) % 10000 AS hv
  FROM documents
)
SELECT doc_id,
       CASE WHEN hv < 1500 THEN 'val' ELSE 'train' END AS split,
       CASE WHEN hv < 2500 THEN 1 ELSE 0 END AS in_sample
FROM h
""",
        "dedup_exact": f"""
WITH agg AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_doc_id, count(*) AS n_dupes
  FROM ({_DOUBLED_SQL}) GROUP BY 1
)
SELECT v.variant, a.fp, a.keep_doc_id, a.n_dupes
FROM agg a CROSS JOIN (VALUES ('plain')) AS v(variant)
""",
        "events_range_join": _EVENTS_RANGE_SQL,
        "minhash_signatures": _minhash_sql(),
        "lsh_candidate_pairs": jac + """
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
""",
        "ngram_jaccard": jac + """
, cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
sh_rows AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c JOIN sh_rows a ON a.doc_id = c.doc_a
              JOIN sh_rows b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
""",
        "simhash": _simhash_sql(),
        "quality_classifier": _quality_classifier_sql(),
        "html_signals": _html_signals_sql(),
        "line_dedup": _line_dedup_sql(),
        "quality_gate": _quality_gate_sql(),
        "ingest_spans": _ingest_spans_sql(),
        "span_diff": _span_diff_sql(),
        "phi_scrub": _phi_scrub_sql(),
        "extract_main_content": _extract_main_sql(),
        "layout_parse": _layout_parse_sql(),
        "series_group_count": """
SELECT lang AS series_value, count(*) AS n_docs,
       array_to_string(list_sort(list(CAST(doc_id AS varchar))), ',') AS members
FROM documents GROUP BY lang
""",
        "embedding_neardup": _embedding_neardup_sql(),
        "ann_threshold": _COS_SQL,
        "phi_scrub_uids": _phi_scrub_uids_sql(),
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "deid_pipeline": _deid_pipeline_sql(),
        "deid_recipe_cases": _deid_recipe_cases_sql(),
        "deid_ingest_testdata": _deid_ingest_sql(),
        "media_redaction": _media_redaction_sql(),
        "ocr_recognition_metrics": _ocr_metrics_sql(),
        "vocab_top_terms": _vocab_sql(),
        "tfidf_top_term": _tfidf_sql(),
        "dedup_decisions": jac + """
, cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
sh_rows AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c JOIN sh_rows a ON a.doc_id = c.doc_a
              JOIN sh_rows b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
jp AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
),
drops AS (SELECT DISTINCT doc_b AS doc_id FROM jp)
SELECT doc_id, 1 AS keep FROM src
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
UNION ALL SELECT doc_id, 0 AS keep FROM drops
""",
        "ocr_word_recognition": _ocr_word_recognition_sql(),
        # recursive CTE needs the RECURSIVE keyword on the WITH chain
        "neardup_components": jac.replace("WITH ", "WITH RECURSIVE ", 1) + """
, cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
),
sh_rows AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c JOIN sh_rows a ON a.doc_id = c.doc_a
              JOIN sh_rows b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
jp AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT s.doc_id,
       least(s.doc_id, coalesce(min(r.b), s.doc_id)) AS component
FROM src s LEFT JOIN reach r ON r.a = s.doc_id
GROUP BY s.doc_id
""",
        "pack_shards": _pack_shards_sql(),
        "stratified_sample": _stratified_sample_sql(),
    }


def oracle_sql() -> dict[str, str]:
    """Public contract accessor.  Building the ~50 SQL strings includes
    running the pure-Python deid oracle over the 300-doc synthetic corpus
    (VALUES rendering) — deterministic by design, so it is built once and
    returned as a fresh dict each call so no caller can mutate the cache."""
    return dict(_oracle_sql_cached())
