"""robots.txt parsing + crawl-politeness URL filter (RFC 9309).

The crawl front door established in ``linkgraph.py`` (canonicalize →
url_dedup → domain_filter) lacks the politeness gate: may this agent
fetch this URL at all?  A 100 TB crawl holds one robots.txt per host —
a table MILLIONS of times smaller than the URL stream — so the scale
shape is: parse the robots bodies ONCE into a per-host RULES table, then
gate the URL stream with a host-keyed join (broadcast at practical rule
-table sizes; plain equi-join beyond), never re-parsing robots text per
URL.

Semantics implemented (RFC 9309, with the widely-deployed wildcard
extension):

* groups: consecutive ``User-agent:`` lines share the following rules;
  a crawler obeys the group whose product token is the LONGEST
  case-insensitive substring of its own agent string, falling back to
  the ``*`` group; hosts with no robots.txt (or no applicable group)
  allow everything;
* rules: ``Allow:`` / ``Disallow:`` path patterns; ``*`` matches any
  char run, a trailing ``$`` anchors the end; an EMPTY Disallow value
  is an explicit allow-all (and an empty Allow is inert);
* precedence: the applicable rule with the LONGEST pattern text wins;
  on a tie between Allow and Disallow, Allow wins; no matching rule =
  allowed;
* unknown directives (Crawl-delay, Sitemap, comments) are ignored for
  the allow/deny verdict — ``Sitemap:`` URLs are surfaced separately
  since discovery pipelines want them.

Parsing is a vectorized ``mapInPandas`` stage (robots bodies are the
web's messiest config files — a line-based state machine, not a regex);
MATCHING is pure JVM: each pattern is compiled to an anchored Java regex
at parse time (literal-quoted segments around ``.*``), so the gate is a
join + ``rlike`` + one max_by per URL, whole-stage codegen around the
join.  Shared spec with the pure-Python oracle in tests/test_robots.py.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_DIRECTIVE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def pattern_to_regex(pattern: str) -> str:
    """robots path pattern → anchored Java/RE2-safe regex: literal
    segments quoted, ``*`` → ``.*``, trailing ``$`` → end anchor.  A
    ``$`` anywhere else is literal (the spec only anchors at the end)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    parts = [re.escape(seg) for seg in body.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


def parse_robots_body(body: str) -> tuple[list[tuple], list[str]]:
    """One robots.txt → ([(agent, rule, pattern)], [sitemap_url]).

    Line-based state machine per RFC 9309 §2.2: a run of User-agent
    lines opens a group; Allow/Disallow attach to EVERY agent of the
    open group; a User-agent line after rules starts a NEW group.
    Comments (#) strip to end of line; blank lines do not close groups
    (the RFC relaxed the old de-facto rule); directives are
    case-insensitive."""
    rules: list[tuple] = []
    sitemaps: list[str] = []
    agents: list[str] = []
    collecting_agents = False
    for raw in body.split("\n"):
        line = raw.split("#", 1)[0]
        m = _DIRECTIVE.match(line)
        if not m:
            continue
        key, val = m.group(1).lower(), m.group(2)
        if key == "user-agent":
            if not collecting_agents:
                agents, collecting_agents = [], True
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            collecting_agents = False
            if not agents:
                continue  # rule before any User-agent line: ignored
            # empty Disallow = explicit allow-all; empty Allow is inert
            if val == "" and key == "allow":
                continue
            pattern = val if val != "" else ""
            for a in agents:
                rules.append((a, key, pattern))
        elif key == "sitemap":
            if val:
                sitemaps.append(val)
        else:
            collecting_agents = False  # Crawl-delay etc. ends the agent run
    return rules, sitemaps


_PARSED_SCHEMA = (
    "host string, kind string, agent string, rule string, pattern string, "
    "pattern_len int, regex string, sitemap string"
)


def parse_robots(df: DataFrame, host_col: str = "host",
                 body_col: str = "body") -> tuple[DataFrame, DataFrame]:
    """(host, body) → (rules_df, sitemaps_df).

    ONE zero-shuffle ``mapInPandas`` over the robots bodies emits a
    tagged union (rules + sitemaps), and the two returned frames are
    narrow filters of it — each body is state-machined once per consumed
    frame (persist the parse output if both frames are consumed
    repeatedly).  The rules table carries the precompiled anchored regex
    and the pattern length so the matcher never touches pattern text
    again.  An empty Disallow becomes a zero-length allow rule (pattern
    '' matches every path at precedence 0 — exactly the RFC's
    allow-all)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                rules, maps = parse_robots_body(body or "")
                for agent, rule, pattern in rules:
                    eff_rule = "allow" if (rule == "disallow" and pattern == "") else rule
                    rows.append(
                        {
                            "host": host,
                            "kind": "rule",
                            "agent": agent,
                            "rule": eff_rule,
                            "pattern": pattern,
                            "pattern_len": len(pattern),
                            "regex": pattern_to_regex(pattern),
                            "sitemap": None,
                        }
                    )
                rows.extend(
                    {"host": host, "kind": "sitemap", "agent": None,
                     "rule": None, "pattern": None, "pattern_len": None,
                     "regex": None, "sitemap": s}
                    for s in maps
                )
            yield pd.DataFrame(
                rows, columns=["host", "kind", "agent", "rule", "pattern",
                               "pattern_len", "regex", "sitemap"])

    parsed = df.mapInPandas(run, _PARSED_SCHEMA)
    rules_df = parsed.filter(F.col("kind") == "rule").select(
        "host", "agent", "rule", "pattern", "pattern_len", "regex"
    )
    maps_df = parsed.filter(F.col("kind") == "sitemap").select(
        "host", "sitemap"
    )
    return rules_df, maps_df


def _applicable_groups(rules: DataFrame, agent: str) -> DataFrame:
    """Per host, the rules of the group the crawler obeys: the longest
    agent token that is a substring of ``agent`` (case-insensitive),
    falling back to '*'.  Pure DataFrame ops over the (small) rules
    table: rank agent tokens per host, keep the winner's rules."""
    a = agent.lower()
    if not re.fullmatch(r"[a-z0-9_.\-/ ()+;:@]*", a):
        raise ValueError(
            f"agent contains characters unsafe for a SQL literal: {agent!r}"
        )
    cand = rules.withColumn(
        "_match_len",
        F.when(F.col("agent") == "*", F.lit(0)).otherwise(
            F.when(
                F.expr(f"instr({a!r}, agent) > 0"), F.length("agent")
            ).otherwise(F.lit(None))
        ),
    ).filter(F.col("_match_len").isNotNull())
    best = cand.groupBy("host").agg(F.max("_match_len").alias("_best_len"))
    return (
        cand.join(best, "host")
        .filter(F.col("_match_len") == F.col("_best_len"))
        .drop("_match_len", "_best_len")
    )


def _norm_host(col: F.Column) -> F.Column:
    """Fold a robots-table host to the same key ``canonicalize_url``
    derives from a URL: lowercase, leading ``www.`` run stripped, default
    http/https port run stripped.  Without this, rules keyed by the
    natural fetch host (``www.Example.com``) never join the canonical URL
    host (``example.com``) and the gate silently allows everything."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(col)), r"^(www\.)+", ""),
        "(:80|:443)+$",
        F.lit(""),
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    mode: str = "remove",
) -> DataFrame:
    """Gate a URL stream against parsed robots rules for one crawler.

    Plan: the verdict is computed per DISTINCT url string (the gate is
    not a dedup — duplicate input rows come back with their multiplicity,
    and the rules join never fans out full input rows): canonicalize the
    host (the linkgraph codegen spec; the rules side's host is folded to
    the same key by :func:`_norm_host`), extract the path+query OF THE
    URL AS IT WILL BE FETCHED (RFC 9309 matches the literal request
    target — the dedup-canonical form strips tracking params and re-sorts
    queries, which would flip verdicts), reduce the rules table to this
    agent's applicable group per host (tiny — broadcast-friendly), LEFT
    join on host, keep matching rules (``path rlike regex`` — per-row
    pattern, still JVM-side), then ONE ``max_by`` per URL implements
    longest-match-wins with the Allow tie-break.  URLs with no matching
    rule (or no rules for the host) are allowed; the per-url verdict then
    joins back onto the input (null-safe, so NULL urls pass through
    allowed).

    Output: the input columns plus ``host`` (omitted if the input already
    carries one — the caller's values are never overwritten) and, in
    ``mode='flag'``, ``allowed``.  ``mode='remove'`` keeps only allowed
    rows; ``mode='flag'`` keeps all rows (curation wants drop-mass
    reports).
    """
    if mode not in ("remove", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    from deidcm_spark.operators.linkgraph import URL_PARTS_RE, canonicalize_url

    grp = _applicable_groups(rules.withColumn("host", _norm_host(F.col("host"))), agent)
    dist = urls.select(F.col(url_col).alias("_rf_url")).distinct()
    canon = canonicalize_url(dist, url_col="_rf_url")
    raw = F.trim(F.col("_rf_url"))
    raw_path = F.regexp_extract(raw, URL_PARTS_RE, 3)
    raw_q = F.regexp_extract(raw, URL_PARTS_RE, 4)
    with_path = canon.withColumn(
        "_path",
        F.when(F.col("host") == "", F.lit(None)).otherwise(
            F.concat(
                F.when(raw_path == "", F.lit("/")).otherwise(raw_path),
                F.when(raw_q == "", F.lit("")).otherwise(
                    F.concat(F.lit("?"), raw_q)
                ),
            )
        ),
    )
    joined = with_path.join(grp, "host", "left")
    matched = joined.withColumn(
        "_hit",
        F.col("regex").isNotNull() & F.expr("_path rlike regex"),
    )
    verdict = matched.groupBy("_rf_url", "host").agg(
        F.coalesce(
            F.max_by(
                F.col("rule") == "allow",
                F.when(
                    F.col("_hit"),
                    F.struct(
                        F.col("pattern_len"),
                        (F.col("rule") == "allow").cast("int").alias("_tie"),
                    ),
                ),
            ),
            F.lit(True),  # no matching rule → allowed
        ).alias("allowed")
    )
    if "host" in urls.columns:
        verdict = verdict.drop("host")
    out = urls.join(
        verdict, F.col(url_col).eqNullSafe(F.col("_rf_url")), "left"
    ).drop("_rf_url").withColumn("allowed", F.coalesce("allowed", F.lit(True)))
    if mode == "flag":
        return out
    return out.filter("allowed").drop("allowed")
