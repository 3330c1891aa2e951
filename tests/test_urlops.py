"""URL canonicalization / URL dedup / domain blocklist: every operator
checked against a pure-Python re-derivation of the shared spec
(linkgraph.py docstrings), plus plan hygiene (canonicalize is
exchange-free and Python-free)."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from deidcm_spark.operators.linkgraph import (
    TRACKING_PARAM_RE,
    canonicalize_url,
    domain_filter,
    url_dedup,
)

# ---------- pure-Python oracle of the shared spec ----------

PARTS = re.compile(r"^((?i:https?))://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$")
TRACK = re.compile(TRACKING_PARAM_RE)


def oracle_canon(url):
    """Mirror of canonicalize_url. NOTE: F.trim strips SPACES only, so the
    oracle strips spaces (not all whitespace)."""
    if url is None:
        return None, None
    u = url.strip(" ")
    m = PARTS.match(u)
    if not m:
        return u, ""
    scheme = m.group(1).lower()
    host = re.sub(r"^(www\.)+", "", re.sub("^.*@", "", m.group(2).lower()))
    host = re.sub("(:80)+$" if scheme == "http" else "(:443)+$", "", host)
    path = re.sub("[/ ]+$", "", m.group(3))
    q = m.group(4) or ""
    params = sorted(p for p in q.split("&") if p and not TRACK.match(p))
    qs = "&".join(params)
    c = f"{scheme}://{host}{path or '/'}" + (f"?{qs}" if qs else "")
    return c.strip(" "), host  # fragment drop can expose a trailing space


URLS = [
    "https://WWW.Example.COM:443/path/?utm_source=x&b=2&a=1#frag",
    "http://example.com:80//a//",
    "http://example.com",
    "https://example.com/?gclid=1&fbclid=2",
    "https://example.com/p?ref=abc&refx=1&utm_campaign",
    "https://sub.www.example.com/deep/page",
    "ftp://files.example.com/a",
    "not a url at all",
    "  https://padded.example.com/x  ",
    "https://example.com/a?z=1&a=2&m=3",
    "http://user@example.com:80/b",
    "https://example.com:8443/keep-port",
    "HTTP://WWW.Example.com:80/up",
    "HtTpS://example.com/mixed?b=2&a=1",
    None,
]


@pytest.fixture(scope="module")
def url_df(spark):
    rows = [(i, u) for i, u in enumerate(URLS)]
    return spark.createDataFrame(rows, "doc_id bigint, url string")


def test_canonicalize_matches_oracle(spark, url_df):
    got = {r.doc_id: (r.canonical_url, r.host) for r in canonicalize_url(url_df).collect()}
    for i, u in enumerate(URLS):
        assert got[i] == oracle_canon(u), (i, u, got[i], oracle_canon(u))


def test_canonicalize_specific_forms(spark, url_df):
    got = {r.url: r.canonical_url for r in canonicalize_url(url_df).collect()}
    assert (
        got["https://WWW.Example.COM:443/path/?utm_source=x&b=2&a=1#frag"]
        == "https://example.com/path?a=1&b=2"
    )
    assert got["http://example.com"] == "http://example.com/"
    assert got["https://example.com/?gclid=1&fbclid=2"] == "https://example.com/"
    # ref is tracking, refx is not; valueless utm_ param dropped
    assert (
        got["https://example.com/p?ref=abc&refx=1&utm_campaign"]
        == "https://example.com/p?refx=1"
    )
    # only a LEADING www. is stripped
    assert (
        got["https://sub.www.example.com/deep/page"]
        == "https://sub.www.example.com/deep/page"
    )
    # non-default port survives
    assert got["https://example.com:8443/keep-port"] == "https://example.com:8443/keep-port"
    # userinfo dropped from the canonical host
    assert got["http://user@example.com:80/b"] == "http://example.com/b"
    # non-http passthrough (trimmed), host empty
    assert got["ftp://files.example.com/a"] == "ftp://files.example.com/a"
    # schemes are case-insensitive (RFC 3986): an uppercase scheme must
    # canonicalize (and so dedup / hit the blocklist), not pass through
    assert got["HTTP://WWW.Example.com:80/up"] == "http://example.com/up"
    assert got["HtTpS://example.com/mixed?b=2&a=1"] == "https://example.com/mixed?a=1&b=2"


def test_canonicalize_plan_is_narrow_and_jvm_side(spark, url_df):
    df = canonicalize_url(url_df)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _url_dedup_vs_oracle(spark, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, url string").repartition(6)
    got = {r.doc_id: (r.keep, r.n_occ) for r in url_dedup(df).collect()}

    groups = {}
    for doc_id, u in rows:
        c, _ = oracle_canon(u)
        if c is not None:
            groups.setdefault(c, []).append(doc_id)
    want = {}
    for doc_id, u in rows:
        c, _ = oracle_canon(u)
        if c is None:
            want[doc_id] = (True, 1)
        else:
            want[doc_id] = (doc_id == min(groups[c]), len(groups[c]))
    assert got == want
    return want


def test_url_dedup_matches_oracle(spark):
    # three spellings of one page, two of another, one unique, one null
    rows = [
        (1, "https://example.com/a?utm_source=x"),
        (2, "http://www.other.com/b?z=1&a=2"),
        (3, "https://EXAMPLE.com/a/"),
        (4, "https://example.com/a#frag"),
        (5, "http://other.com/b?a=2&z=1"),
        (6, "https://unique.example/only"),
        (7, None),
    ]
    want = _url_dedup_vs_oracle(spark, rows)
    # cross-check the winner structure: docs 1,3,4 collapse to one URL
    assert [want[1], want[3], want[4]] == [(True, 3), (False, 3), (False, 3)]
    # hot key: a crawler trap, one URL in every document, with some nulls
    _url_dedup_vs_oracle(spark, [
        (d, None if d % 97 == 0 else "https://www.trap.example/p?utm_source=x")
        for d in range(10, 610)
    ])


BLOCKLIST = ["ads.example", "Tracker.io"]

BL_ROWS = [
    (1, "https://ads.example/banner"),        # exact host match
    (2, "https://sub.ads.example/x"),         # subdomain match
    (3, "https://badads.example/x"),          # NOT a dot-suffix -> kept
    (4, "https://ok.com/page"),               # kept
    (5, "http://a.b.tracker.io/pix"),         # deep subdomain match (case-folded)
    (6, "mailto:someone@ads.example"),        # non-http: host '' -> kept
    (7, None),                                # null url -> kept
]


@pytest.fixture(scope="module")
def bl_df(spark):
    return spark.createDataFrame(BL_ROWS, "doc_id bigint, url string")


def test_domain_filter_remove_and_flag(spark, bl_df):
    kept = sorted(r.doc_id for r in domain_filter(bl_df, BLOCKLIST).collect())
    assert kept == [3, 4, 6, 7]
    flags = {
        r.doc_id: r.blocked
        for r in domain_filter(bl_df, BLOCKLIST, mode="flag").collect()
    }
    assert flags == {1: True, 2: True, 3: False, 4: False, 5: True, 6: False, 7: False}


def test_domain_filter_dataframe_blocklist(spark, bl_df):
    bl = spark.createDataFrame([(d,) for d in BLOCKLIST], "domain string")
    kept = sorted(r.doc_id for r in domain_filter(bl_df, bl).collect())
    assert kept == [3, 4, 6, 7]


def test_domain_filter_bad_mode(spark, bl_df):
    with pytest.raises(ValueError, match="mode"):
        domain_filter(bl_df, BLOCKLIST, mode="bogus")


def test_canonicalize_component_grid_and_idempotence(spark):
    """Exhaustive combinatorial grid over URL components: engine == oracle
    on every combination, and canonicalization is IDEMPOTENT (a canonical
    URL is a fixed point — re-canonicalizing changes nothing)."""
    schemes = ["http", "https", "ftp"]
    userinfos = ["", "bob@", "a:pw@"]
    wwws = ["", "www.", "WWW."]
    hosts = ["Example.COM", "x.y.example"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/a/b", "/a/b/", "/a//b//"]
    queries = ["", "?", "?b=2&a=1", "?utm_source=t&z=9", "?ref=r&refx=1&&"]
    frags = ["", "#sec"]
    urls = []
    for s in schemes:
        for ui in userinfos:
            for w in wwws:
                for h in hosts:
                    for p in ports:
                        for pa in paths:
                            for q in queries:
                                for f in frags:
                                    urls.append(f"{s}://{ui}{w}{h}{p}{pa}{q}{f}")
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id bigint, url string"
    )
    got = {
        r.doc_id: (r.canonical_url, r.host)
        for r in canonicalize_url(df).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == oracle_canon(u), (u, got[i], oracle_canon(u))
    # idempotence: run the canonical urls back through as the url column
    once = spark.createDataFrame(
        [(i, got[i][0]) for i in range(len(urls))], "doc_id bigint, url string"
    )
    twice = {
        r.doc_id: (r.canonical_url, r.host)
        for r in canonicalize_url(once).collect()
    }
    for i, u in enumerate(urls):
        # non-http(s) inputs pass through unchanged, so they are fixed
        # points too; http(s) canonicals must map to themselves with the
        # same host
        assert twice[i] == got[i], (u, got[i], twice[i])


# ---------- hypothesis: adversarial URLs (r3 VERDICT item #8) ----------
#
# The crawl front door sees the web's worst strings first; the 5,400-combo
# grid above is enumerative, so this generator covers what it cannot:
# unicode hosts, %-encoding, empty/valueless/duplicate params, raw `@` in
# userinfo AND path, port runs, www runs, whitespace padding.  Two
# invariants: the pure-Python oracle is IDEMPOTENT on every example
# (url_dedup keys must be stable), and Spark matches the oracle exactly
# (checked in ONE batched job over the derandomized example pool — a
# Spark job per hypothesis example would take minutes).

from hypothesis import given, settings, strategies as st

_HOST_CHARS = "abcdefgABCDEFG0129-._éÜжλ"
_PATH_CHARS = "abzAZ09-._~%25!$&'()*+,;=:@/ é"
_PARAM_NAMES = ["a", "b", "Z9", "utm_source", "utm_x", "gclid", "ref",
                "refx", "_ga", "", "é"]

_urls = st.one_of(
    # structured http(s) URLs from adversarial components
    st.builds(
        lambda pad, scheme, user, www, host, port, path, params, frag: (
            pad
            + scheme
            + "://"
            + user
            + www
            + host
            + port
            + path
            + ("?" + "&".join(params) if params is not None else "")
            + frag
            + pad
        ),
        pad=st.sampled_from(["", " ", "  "]),
        scheme=st.sampled_from(["http", "https"]),
        user=st.sampled_from(["", "u@", "a@b@", "%40@", ":pw@"]),
        www=st.sampled_from(["", "www.", "www.www.", "WWW.wWw."]),
        host=st.text(alphabet=_HOST_CHARS, min_size=1, max_size=12),
        port=st.sampled_from(["", ":80", ":443", ":8080", ":80:80",
                              ":443:443", ":0080"]),
        path=st.one_of(
            st.sampled_from(["", "/", "//", "/a//b///", "/x@y", "/%2F",
                             "/a b"]),
            st.text(alphabet=_PATH_CHARS, max_size=16).map(
                lambda t: "/" + t),
        ),
        params=st.one_of(
            st.none(),
            st.lists(
                st.builds(
                    lambda n, v: n + v,
                    n=st.sampled_from(_PARAM_NAMES),
                    v=st.sampled_from(["", "=", "=1", "=%20", "=a=b"]),
                ),
                max_size=5,
            ),
        ),
        frag=st.sampled_from(["", "#", "#f", "#a?b=1"]),
    ),
    # raw garbage: never parses, must pass through trimmed
    st.text(max_size=30),
)

_POOL: list[str] = []


@given(_urls)
@settings(max_examples=400, derandomize=True, deadline=None)
def test_url_oracle_idempotent_hypothesis(url):
    c1, h1 = oracle_canon(url)
    c2, h2 = oracle_canon(c1)
    assert (c2, h2) == (c1, h1), (url, c1, c2)
    # canonical host never keeps userinfo or a leading www run
    if h1:
        assert "@" not in h1 and not h1.startswith("www.")
    _POOL.append(url)


def test_url_spark_matches_oracle_on_hypothesis_pool(spark):
    """Spark ≡ oracle on every derandomized hypothesis example, and the
    SPARK function is idempotent too (re-canonicalizing its own output
    is a fixed point).  Runs after the @given test in file order."""
    assert len(_POOL) >= 300  # derandomized generation actually ran
    urls = sorted(set(_POOL))
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id bigint, url string"
    )
    rows = canonicalize_url(df).collect()
    got = {r.doc_id: (r.canonical_url, r.host) for r in rows}
    for i, u in enumerate(urls):
        assert got[i] == oracle_canon(u), (u, got[i], oracle_canon(u))

    again = spark.createDataFrame(
        [(r.doc_id, r.canonical_url) for r in rows],
        "doc_id bigint, url string",
    )
    got2 = {
        r.doc_id: (r.canonical_url, r.host)
        for r in canonicalize_url(again).collect()
    }
    for i, u in enumerate(urls):
        # host of a passthrough stays '' (non-http garbage), otherwise equal
        assert got2[i][0] == got[i][0], (u, got[i], got2[i])
