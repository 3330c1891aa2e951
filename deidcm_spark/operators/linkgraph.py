"""Link-graph operators over crawled HTML: outlink extraction and
host-level PageRank.

Web-scale curation weights documents by the standing of their host (the
Common-Crawl-style host-level rank): a quality signal orthogonal to the
text itself.  Two operators:

* :func:`extract_links` — (url, html) rows → distinct ``(src_host,
  dst_host, n_links)`` host edges, pure codegen (``regexp_extract_all``
  over ``href`` attributes, absolute http(s) targets only, self-loops
  dropped);
* :func:`host_rank` — PageRank power iteration at host granularity.

PageRank spec (shared with the pure-Python test oracle, tests/test_linkgraph.py):

* nodes = distinct hosts over src ∪ dst; ``N = |nodes|``; ``rank_0 = 1/N``;
* ``out_deg(h)`` = number of distinct out-neighbors;
* per iteration: ``contrib(dst) = Σ_src rank(src) / out_deg(src)``;
  dangling mass = Σ rank over zero-out-degree hosts;
  ``rank'(h) = (1 - d)/N + d · (contrib(h) + dangling/N)``;
* ranks sum to 1 after every iteration (asserted in tests).

Scale shape: each iteration is ONE equi-join of the edge list with the
rank table on ``src_host`` plus one hash aggregation on ``dst_host`` —
the canonical distributed PageRank; the rank/out-degree tables are
|hosts| rows (orders of magnitude below |edges|); the node count and each
round's dangling mass are ``Observation``s on the checkpoint job that
writes that state, so no round runs an aggregate job of its own.  Round
state is materialized with the same lineage-bounding machinery as
``dedup.neardup_components``: ``localCheckpoint`` by default, a reliable
per-round parquet directory via ``checkpoint_dir`` on real clusters,
superseded rounds released.

Host skew: a mega-host (wikipedia) is a HOT KEY on both join sides; the
per-iteration join is exactly the AQE skew-join case
(``spark.sql.adaptive.skewJoin`` splits it at runtime — enabled in the
engine session profile and evidenced in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from deidcm_spark.operators.dedup import _round_checkpoints
from deidcm_spark.schema import local_frame

# scheme matching is case-insensitive (RFC 3986 §3.1: "HTTP://x" is the
# same resource) — the scoped (?i:) group behaves identically in
# java.util.regex, RE2 (DuckDB) and Python re, and does not shift
# capture-group numbering
HOST_RE = r"^(?i:https?)://([^/:?#]+)"
# passed through F.lit (never through SQL text): both quote styles appear
# in the class, which would terminate any SQL string literal
HREF_RE = "href\\s*=\\s*[\"']([^\"']+)[\"']"


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) rows → distinct host-level edges ``(src_host, dst_host,
    n_links)``.  Absolute http(s) targets only (relative links stay on
    their own host and carry no cross-host signal); self-loops dropped;
    hosts lowercased.  One scan → explode → one hash aggregation."""
    links = df.select(
        F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1)).alias("src_host"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), F.lit(1))
        ).alias("target"),
    )
    return (
        links.select(
            "src_host",
            F.lower(F.regexp_extract("target", HOST_RE, 1)).alias("dst_host"),
        )
        .filter("src_host != '' and dst_host != '' and src_host != dst_host")
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def host_rank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over distinct host edges → ``(host, rank)``; see the
    module docstring for the exact spec and scale shape.  ``edges`` needs
    ``src_host``/``dst_host`` columns (extra columns ignored; duplicate
    pairs collapse — the rank is structural, not link-count-weighted)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    _ckpt, _release = _round_checkpoints(edges.sparkSession, checkpoint_dir)

    def ckpt_observed(d: DataFrame, **aggs) -> tuple[DataFrame, dict]:
        """Checkpoint ``d`` and evaluate ``aggs`` on the rows the checkpoint
        job writes — no separate aggregate job."""
        obs = Observation()
        out = _ckpt(d.observe(obs, *(c.alias(k) for k, c in aggs.items())))
        return out, obs.get

    # only e and the per-round state are checkpointed: out_deg/nodes are
    # one-shot derivations OF e (already a checkpoint root), so their
    # lineage is bounded without pinning extra frames for the whole run
    e = _ckpt(edges.select("src_host", "dst_host").distinct())
    out_deg = e.groupBy(F.col("src_host").alias("host")).agg(
        F.count("*").cast("long").alias("out_deg")
    )
    nodes = (
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    state, seen = ckpt_observed(
        nodes.join(out_deg, "host", "left"),
        n=F.count("*"), n_dangling=F.count_if(F.col("out_deg").isNull()),
    )
    n = seen["n"]
    if n == 0:
        _release(e)
        return state.select("host", F.lit(0.0).alias("rank"))
    ranks = state.withColumn("rank", F.lit(1.0 / n))
    dangling = seen["n_dangling"] / n
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            e.join(
                ranks.select(
                    F.col("host").alias("src_host"),
                    (F.col("rank") / F.col("out_deg")).alias("share"),
                ),
                "src_host",
            )
            .groupBy(F.col("dst_host").alias("host"))
            .agg(F.sum("share").alias("contrib"))
        )
        new_state, seen = ckpt_observed(
            ranks.join(contrib, "host", "left").select(
                "host",
                "out_deg",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            ),
            dangling=F.sum(F.when(F.col("out_deg").isNull(), F.col("rank"))),
        )
        _release(state)
        state = ranks = new_state
        dangling = seen["dangling"] or 0.0  # null when no host is dangling
    _release(e)  # the final ranks are their own checkpoint root
    return ranks.select("host", "rank")


# simple (non-nested) anchor elements; group 0 = the whole tag+text+close
ANCHOR_TAG_RE = "<a[^>]*>[^<]*</a>"


def anchor_texts(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) rows → one row per anchor: ``(src_host, dst_host,
    target, anchor)`` — the classic weakly-supervised (query, document)
    training pairs (anchor text describes the page it links to).
    Absolute http(s) targets with non-empty visible text only; pure
    codegen (regexp over the simple non-nested ``<a>`` form; nested
    markup inside anchors is out of contract, like multi-line script
    bodies in the strip-tags tier)."""
    tags = F.expr(
        f"regexp_extract_all({html_col}, '{ANCHOR_TAG_RE}', 0)"
    )
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, HREF_RE, 1).alias("target"),
            F.trim(F.regexp_extract(t, ">([^<]*)</a>", 1)).alias("anchor"),
        ),
    )
    return (
        df.select(
            F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1)).alias(
                "src_host"
            ),
            F.explode(pairs).alias("p"),
        )
        .select(
            "src_host",
            F.lower(F.regexp_extract("p.target", HOST_RE, 1)).alias("dst_host"),
            F.col("p.target").alias("target"),
            F.col("p.anchor").alias("anchor"),
        )
        .filter("src_host != '' and dst_host != '' and anchor != ''")
    )


# ---------------------------------------------------------------------------
# URL canonicalization / URL-level dedup / domain blocklist filtering
# ---------------------------------------------------------------------------
# Web-pipeline front door: crawls store the same page under cosmetically
# different URLs (tracking params, fragments, default ports, www-prefixes,
# param order), and curation drops whole hosts via blocklists (the UT1 /
# RefinedWeb pattern).  All three operators are pure codegen; the blocklist
# match is an equi-join on an exploded host-suffix chain, never a regex
# OR-chain over the list.

# ^(https?)://(authority)(path)[?query][#fragment] — identical semantics in
# java.util.regex, RE2 (the DuckDB oracle mirror) and Python re (the
# pure-Python test oracle); the scheme matches case-insensitively (RFC
# 3986 §3.1 — "HTTP://x" would otherwise pass through un-canonicalized
# and evade url_dedup/domain_filter), lowercasing happens downstream
URL_PARTS_RE = "^((?i:https?))://([^/?#]+)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"

# query parameters that never change page identity (case-sensitive, like
# real tracking params); a param matches on its NAME (before '=', or the
# whole piece when valueless)
TRACKING_PARAM_RE = (
    "^(utm_[a-zA-Z0-9_]+|gclid|dclid|fbclid|msclkid|mc_eid|mc_cid|igshid"
    "|yclid|ref|ref_src|spm|_ga|_gl)(=.*)?$"
)


def canonicalize_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url`` + ``host`` columns (original columns kept).

    Canonicalization spec (shared with the pure-Python oracle in
    tests/test_urlops.py):

    * non-http(s) / unparseable values pass through trimmed, ``host = ''``;
    * scheme and authority lowercased; userinfo dropped (everything up
      to the LAST ``@``, the WHATWG delimiter — lenient parsers allow raw
      ``@`` inside userinfo); the leading ``www.`` RUN stripped from the
      host; the default-port run (``:80`` for http, ``:443`` for https)
      stripped.  Each fold consumes its pattern's full run so the
      function is IDEMPOTENT — ``www.www.x`` or ``h:80:80`` style
      crawler-trap spellings reach a fixed point in one pass (url_dedup
      keys must be stable);
    * path: the trailing run of slashes AND spaces stripped (a dropped
      fragment can expose either — ``http://h// #``), empty path
      becomes ``/``;
    * query: params split on ``&``, empty pieces and tracking params
      (:data:`TRACKING_PARAM_RE`) dropped, survivors SORTED (param order
      never changes page identity) and re-joined; an emptied query loses
      its ``?``;
    * fragment always dropped.

    Pure codegen (layered projections — each derived column computed
    once); zero exchanges, zero Python (asserted in tests/test_urlops.py).
    """
    url = F.trim(F.col(url_col))
    clean_q = (
        "array_join(array_sort(filter(split(coalesce(_q, ''), '&'), "
        f"p -> p != '' and not p rlike '{TRACKING_PARAM_RE}')), '&')"
    )
    return (
        df.withColumn("_u", url)
        .withColumns(
            {
                "_scheme": F.lower(F.regexp_extract("_u", URL_PARTS_RE, 1)),
                "_auth": F.lower(F.regexp_extract("_u", URL_PARTS_RE, 2)),
                "_path": F.regexp_extract("_u", URL_PARTS_RE, 3),
                "_q": F.regexp_extract("_u", URL_PARTS_RE, 4),
            }
        )
        .withColumn(
            "host",
            F.regexp_replace(
                # userinfo ("user@host") is not part of the host, and ONE
                # leading www. is cosmetic
                F.regexp_replace(
                    F.regexp_replace("_auth", "^.*@", ""), r"^(www\.)+", ""
                ),
                # strip the scheme's default port only
                F.when(F.col("_scheme") == "http", F.lit("(:80)+$")).otherwise(
                    F.lit("(:443)+$")
                ),
                F.lit(""),
            ),
        )
        .withColumns(
            {
                "_cpath": F.regexp_replace("_path", "[/ ]+$", ""),
                "_cq": F.expr(clean_q),
            }
        )
        .withColumn(
            "canonical_url",
            F.when(F.col("_scheme") == "", F.col("_u")).otherwise(
                # outer trim: dropping a fragment can expose a trailing
                # space in the path ("http://h/ #"); the next pass would
                # trim it, so trim NOW to stay idempotent
                F.trim(F.concat(
                    "_scheme",
                    F.lit("://"),
                    "host",
                    F.when(F.col("_cpath") == "", F.lit("/")).otherwise(
                        F.col("_cpath")
                    ),
                    F.when(F.col("_cq") == "", F.lit("")).otherwise(
                        F.concat(F.lit("?"), F.col("_cq"))
                    ),
                ))
            ),
        )
        .withColumn("host", F.when(F.col("_scheme") == "", "").otherwise(F.col("host")))
        .drop("_u", "_scheme", "_auth", "_path", "_q", "_cpath", "_cq")
    )


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level dedup decisions: one row per input row with
    ``canonical_url``, ``keep`` (first occurrence by doc_id wins) and
    ``n_occ`` (occurrences of that canonical URL corpus-wide).

    The winner is the span-dedup lane's one-aggregate first occurrence: a
    hot canonical URL (a crawler trap emitting the same page a million
    times) is combined map-side by the partial aggregate, so its reducer
    sees at most one row per map task; NULL urls never group together
    (always kept, ``n_occ = 1``).
    """
    from deidcm_spark.operators.spandedup import _first_occurrence

    canon = canonicalize_url(df, url_col)
    rows = canon.filter(F.col("canonical_url").isNotNull()).select(
        F.col("canonical_url").alias("fp"), "doc_id", F.lit(0).alias("pos")
    )
    winners = _first_occurrence(rows).select(
        F.col("fp").alias("canonical_url"), F.col("w_doc_id").alias("_w_doc"), "n_occ"
    )
    return (
        canon.join(winners, "canonical_url", "left")
        .withColumn(
            "keep",
            F.col("_w_doc").isNull() | (F.col("_w_doc") == F.col("doc_id")),
        )
        .withColumn("n_occ", F.coalesce("n_occ", F.lit(1)))
        .drop("_w_doc")
    )


def _host_suffixes(host_col: str) -> F.Column:
    """'a.b.co.uk' -> ['a.b.co.uk', 'b.co.uk', 'co.uk', 'uk'] — every
    dot-suffix, so a blocklist entry at any registrable depth matches by
    equality."""
    return F.expr(
        f"transform(sequence(1, size(split({host_col}, '[.]'))), "
        f"i -> array_join(slice(split({host_col}, '[.]'), i, "
        f"size(split({host_col}, '[.]'))), '.'))"
    )


def domain_filter(
    df: DataFrame,
    blocked,
    url_col: str = "url",
    mode: str = "remove",
) -> DataFrame:
    """Drop (or flag) documents whose URL host falls under a blocked
    domain — ``host == domain`` or ``host`` ends with ``'.' + domain``
    (the UT1-blocklist subdomain semantics).

    ``blocked`` is a one-column DataFrame (``domain``) or a Python list of
    domain strings (lowercased either way).  Scale shape: the host's
    dot-suffix chain is exploded (<= label-count rows per doc, host-only —
    never the text) and equi-joined with the blocklist; a million-entry
    blocklist is a plain shuffled semi-join, a small one broadcasts —
    Catalyst picks.  No regex OR-chain, no driver-side list scan.

    ``mode='remove'`` anti-joins the matches away; ``mode='flag'`` adds a
    ``blocked`` boolean instead (audit / lineage runs).
    """
    if mode not in ("remove", "flag"):
        raise ValueError(f"mode must be 'remove' or 'flag', got {mode!r}")
    if not isinstance(blocked, DataFrame):
        blocked = local_frame(
            df.sparkSession, [(d,) for d in blocked], "domain string"
        )
    bl = blocked.select(F.lower(F.trim("domain")).alias("_dom")).distinct()
    hosts = canonicalize_url(df, url_col).select("doc_id", "host")
    matches = (
        hosts.filter(F.col("host") != "")
        .select("doc_id", F.explode(_host_suffixes("host")).alias("_dom"))
        .join(bl, "_dom", "left_semi")
        .select("doc_id")
        .distinct()
    )
    if mode == "remove":
        return df.join(matches, "doc_id", "left_anti")
    return df.join(
        matches.withColumn("blocked", F.lit(True)), "doc_id", "left"
    ).withColumn("blocked", F.coalesce("blocked", F.lit(False)))
