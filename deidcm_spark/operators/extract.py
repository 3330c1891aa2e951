"""Main-content extraction lane (north_rule, BASELINE.json:14).

The north rule asks for a PySpark-native **main-content extraction pipeline
(HTML boilerplate strip, PDF/layout parse, DOM heuristics)** over the same
interleaved ``(doc_id, spans)`` table the de-identification lane uses — the
extractor *produces* that schema: raw HTML / layout payloads in, ordered
text+media span arrays out, judged by span-sequence equality
``(kind, text, media_ref, order)``.

Three tiers, fastest path first:

* **Tag strip + entity decode** (`strip_tags_expr`) — pure Spark SQL
  regexp chain, whole-stage-codegen, with a byte-identical DuckDB oracle.
* **Link-density metrics** (`link_density_cols`) — the densitometric
  boilerplate signal (boilerpipe/jusText-style anchor-chars ÷ text-chars),
  also pure SQL + oracle.
* **DOM-heuristic block extraction** (`extract_main_content`) — an
  Arrow-batched ``mapInPandas`` stage running a small HTML tokenizer:
  segments block-level elements, tracks the open-container stack, drops
  chrome containers (<nav>/<header>/<footer>/<aside>), drops
  high-link-density and too-short blocks, and emits surviving blocks as
  interleaved text spans + <img> media spans in DOM order.

Plus the **layout lane** (`parse_layout`): a deterministic structured
layout-document format (the sandbox stand-in for PDF page geometry —
real PDF decode is a pluggable backend stubbed with NotImplementedError),
parsed into reading-order spans with page-chrome roles dropped.

The corpus is synthesized deterministically from the driver's ``documents``
table (no external data): `html_expr` renders the SAME page template in
both the Spark and DuckDB dialects from one shared piece list, so the
pure-SQL tiers are value-hash oracle-checked end-to-end.

Scale notes: every tier is embarrassingly parallel per document — no
shuffle anywhere in the lane (narrow select / mapInPandas only); the
pandas stage streams Arrow batches (bounded memory via
``maxRecordsPerBatch``); regex work for the SQL tiers is JVM-side codegen.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from itertools import groupby

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from deidcm_spark.schema import DOCUMENTS_SCHEMA

# ---------------------------------------------------------------------------
# deterministic HTML corpus — one shared template, two SQL dialects
# ---------------------------------------------------------------------------

# Page template as (kind, payload) pieces; kinds: lit | col | docid | half1 |
# half2.  half1/half2 split the document text at ceil(len/2) so real corpus
# text lands in two <p> blocks with an <img> interleaved between them.
_HTML_PIECES: list[tuple[str, str]] = [
    ("lit", '<html lang="'), ("col", "lang"), ("lit", '"><head><title>Doc '),
    ("docid", ""), ("lit", "</title><style>body { margin: 0 }</style>"
                          "<script>var tracker = 1;</script></head><body>"),
    ("lit", '<nav><a href="/">Home</a> <a href="/browse">Browse</a> '
            '<a href="/s/'), ("col", "source"), ("lit", '">'),
    ("col", "source"), ("lit", "</a></nav>"),
    ("lit", '<aside class="related"><a href="/r/1">related one</a> '
            '<a href="/r/2">related two</a> <a href="/r/3">related three</a>'
            "</aside>"),
    ("lit", "<article><h1>Document "), ("docid", ""), ("lit", "</h1><p>"),
    ("half1", ""), ("lit", '</p><img src="media/'), ("docid", ""),
    ("lit", '_0.png" alt="figure"><p>'), ("half2", ""), ("lit", "</p>"),
    ("lit", '<p>Share this: <a href="/share">share</a> '
            '<a href="/tweet">tweet</a> <a href="/like">like</a></p>'),
    ("lit", "</article>"),
    ("lit", '<footer>&copy; 2026 '), ("col", "source"),
    ("lit", ' &amp; partners <a href="/privacy">privacy</a> '
            '<a href="/terms">terms</a></footer></body></html>'),
]

_HALF = "cast(ceil(length(text) / 2.0) as int)"


def _piece_sql(kind: str, payload: str, dialect: str) -> str:
    lit = lambda s: "'" + s.replace("'", "''") + "'"
    if kind == "lit":
        return lit(payload)
    if kind == "col":
        return payload
    if dialect == "spark":
        if kind == "docid":
            return "cast(doc_id as string)"
        if kind == "half1":
            return f"substring(text, 1, {_HALF})"
        if kind == "half2":
            return f"substring(text, {_HALF} + 1)"
    else:  # duckdb
        if kind == "docid":
            return "cast(doc_id as varchar)"
        if kind == "half1":
            return f"substr(text, 1, {_HALF})"
        if kind == "half2":
            return f"substr(text, {_HALF} + 1)"
    raise ValueError(f"unknown piece {kind}")


def html_expr(dialect: str = "spark") -> str:
    """SQL expression rendering the synthetic page from (doc_id, text, lang,
    source) — identical bytes in both dialects (oracle contract)."""
    parts = ", ".join(_piece_sql(k, p, dialect) for k, p in _HTML_PIECES)
    return f"concat({parts})"


def with_html(df: DataFrame) -> DataFrame:
    """documents table -> (doc_id, html); pure codegen projection."""
    return df.select("doc_id", F.expr(html_expr("spark")).alias("html"))


# ---------------------------------------------------------------------------
# tier 1 — tag strip (pure SQL, oracle-checked)
# ---------------------------------------------------------------------------

# Applied innermost-first.  Java and RE2 both support non-greedy .*? and
# neither matches \n with '.' — the synthesized corpus is single-line, and
# multi-line script/style content is out of contract (documented).
_STRIP_STEPS: list[tuple[str, str]] = [
    (r"<script[^>]*>.*?</script>", " "),
    (r"<style[^>]*>.*?</style>", " "),
    (r"<[^>]*>", " "),
]
_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&copy;", "(c)"),
]


def strip_tags_expr(col: str, dialect: str = "spark") -> str:
    """Boilerplate-free plain text: drop script/style, strip tags, decode
    entities, collapse whitespace.  Same regex semantics in Spark (Java
    regex) and DuckDB (RE2) for this pattern subset."""
    g = ", 'g'" if dialect == "duckdb" else ""
    # Spark SQL string literals unescape backslashes; DuckDB's do not
    ws = "\\\\s+" if dialect == "spark" else "\\s+"
    e = col
    for pat, rep in _STRIP_STEPS:
        e = f"regexp_replace({e}, '{pat}', '{rep}'{g})"
    for ent, rep in _ENTITIES:
        rep_sql = rep.replace("'", "''")
        e = f"replace({e}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({e}, '{ws}', ' '{g}))"


def strip_tags(df: DataFrame, html_col: str = "html") -> DataFrame:
    # project the stripped text ONCE, derive n_chars from the alias in a
    # second select — Catalyst's CollapseProject keeps non-cheap aliases
    # referenced once, so the regexp_replace chain runs a single time per doc
    # (the one-select form embedded the chain twice: once for plain_text,
    # once inside length())
    return df.select(
        "doc_id", F.expr(strip_tags_expr(html_col)).alias("plain_text")
    ).select("doc_id", "plain_text", F.length("plain_text").alias("n_chars"))


# ---------------------------------------------------------------------------
# tier 2 — link-density boilerplate signal (pure SQL, oracle-checked)
# ---------------------------------------------------------------------------

_ANCHOR_RE = "<a [^>]*>([^<]*)</a>"


def link_density_cols(html_col: str, dialect: str = "spark") -> dict[str, str]:
    """Anchor-chars / text-chars — THE densitometric boilerplate feature
    (boilerpipe's link density).  Both engines: regexp_extract_all(col,
    pattern, group) -> array of anchor inner texts."""
    anchors = f"regexp_extract_all({html_col}, '{_ANCHOR_RE}', 1)"
    text_len = f"length({strip_tags_expr(html_col, dialect)})"
    if dialect == "spark":
        link_chars = (
            f"aggregate(transform({anchors}, x -> length(x)), 0, (a, x) -> a + x)"
        )
        n_links = f"size({anchors})"
    else:
        link_chars = (
            f"coalesce(list_sum(list_transform({anchors}, x -> length(x))), 0)"
        )
        n_links = f"len({anchors})"
    return {
        "n_links": f"cast({n_links} as bigint)",
        "link_chars": f"cast({link_chars} as bigint)",
        "text_chars": f"cast({text_len} as bigint)",
        # identical text in both dialects (division and round agree)
        "link_density": f"round({link_chars} / greatest({text_len}, 1), 4)",
    }


def link_density(df: DataFrame, html_col: str = "html") -> DataFrame:
    # same CSE discipline as strip_tags: materialize the anchor array and the
    # stripped text once each, then derive the four features from the aliases
    anchors = f"regexp_extract_all({html_col}, '{_ANCHOR_RE}', 1)"
    base = df.select(
        "doc_id",
        F.expr(anchors).alias("_anchors"),
        F.expr(f"length({strip_tags_expr(html_col)})").alias("_text_len"),
    )
    return base.select(
        "doc_id",
        F.expr("cast(size(_anchors) as bigint)").alias("n_links"),
        F.expr(
            "cast(aggregate(transform(_anchors, x -> length(x)), 0, (a, x) -> a + x) as bigint)"
        ).alias("link_chars"),
        F.expr("cast(_text_len as bigint)").alias("text_chars"),
    ).select(
        "*",
        F.expr("round(link_chars / greatest(text_chars, 1), 4)").alias("link_density"),
    )


# ---------------------------------------------------------------------------
# tier 3 — DOM-heuristic main-content extraction (Arrow mapInPandas)
# ---------------------------------------------------------------------------

BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th blockquote pre article section div".split()
)
CHROME_TAGS = frozenset("nav header footer aside".split())  # DOM heuristic
_SKIP_CONTENT = frozenset(("script", "style"))
# one grouped findall per page: (closing slash, tag name, attribute text,
# comment or <!...> declaration, text run) — exactly one of tag/comment/text
# is non-empty per token
_TOKEN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)([^>]*)>|(<!--.*?-->|<![^>]*>)|([^<]+)", re.S
)
_SRC_RE = re.compile(r'src="([^"]*)"')
_WS_RE = re.compile(r"\s+")

MAX_LINK_DENSITY = 0.33
MIN_WORDS = 3
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())


def _decode_entities(s: str) -> str:
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    return s


def _block_items(parts: list) -> list[tuple[str, str]]:
    """A block's items from its DOM-order parts (text ``str`` pieces and
    1-tuple ``(src,)`` <img> markers): each maximal text run between
    images becomes one whitespace-collapsed ``('text', ...)`` item, dropped
    when blank, and each image a ``('media', src)`` item."""
    items: list[tuple[str, str]] = []
    for is_text, group in groupby(parts, key=lambda p: type(p) is str):
        if is_text:
            txt = _WS_RE.sub(" ", "".join(group)).strip()
            if txt:
                items.append(("text", txt))
        else:
            items.extend(("media", src) for (src,) in group)
    return items


def _segment_blocks(html: str) -> list[dict]:
    """One pass over the tag stream.  A *block* closes when a block-level
    tag opens or closes; each block records its text, anchor-char count,
    heading-ness, chrome-container depth, and any <img> items interleaved
    at their exact position (kind switches inside the block).

    A block accumulates one ``parts`` list: text pieces and <br>/<hr>
    spaces as ``str``, images as ``(src,)`` markers.  The block text is
    the whitespace-collapsed join of the ``str`` parts; the items split
    the same parts at the images.  A <br> space that opens a text run
    cannot show in an item, because items are stripped."""
    blocks: list[dict] = []
    parts: list = []
    has_media = False
    link_chars = 0
    anchor_depth = 0
    chrome_depth = 0
    skip_tag: str | None = None
    cur_tag = "body"

    def flush() -> None:
        nonlocal parts, has_media, link_chars
        if has_media:
            txt = _WS_RE.sub(" ", "".join(p for p in parts if type(p) is str)).strip()
            items = _block_items(parts)
        else:
            txt = _WS_RE.sub(" ", "".join(parts)).strip()
            items = [("text", txt)]
        if txt or has_media:
            blocks.append(
                {
                    "tag": cur_tag,
                    "text": txt,
                    "items": items,
                    "link_chars": link_chars,
                    "chrome": chrome_depth > 0,
                }
            )
        parts, has_media, link_chars = [], False, 0

    for closing, tag, attrs, _comment, text in _TOKEN_RE.findall(html):
        if text:
            if skip_tag is None:
                if "&" in text:
                    text = _decode_entities(text)
                parts.append(text)
                if anchor_depth:
                    link_chars += len(text.strip())
            continue
        if not tag:  # comment or <!...> declaration
            continue
        tag = tag.lower()
        if skip_tag is not None:
            if closing and tag == skip_tag:
                skip_tag = None
        elif tag == "a":
            if not closing:
                anchor_depth += 1
            elif anchor_depth:
                anchor_depth -= 1
        elif tag in BLOCK_TAGS or tag in CHROME_TAGS:
            flush()
            if tag in CHROME_TAGS:
                chrome_depth = max(chrome_depth + (-1 if closing else 1), 0)
            cur_tag = "body" if closing else tag
        elif tag in _SKIP_CONTENT:
            if not closing:
                skip_tag = tag
        elif tag == "img":
            src = _SRC_RE.search(attrs)
            parts.append((src.group(1) if src else "",))
            has_media = True
        elif tag == "br" or tag == "hr":
            # line breaks separate words, they must not glue "a<br>b" -> "ab"
            parts.append(" ")
    flush()
    return blocks


# mini function-word list for the jusText-style mode (deterministic,
# self-contained; a production deployment would broadcast a full per-language
# list exactly like the recipe table travels in the deid kernel closure)
STOPWORDS = frozenset(
    "the a an and of to in is it for that with as on at by this be are was".split()
)
MIN_STOPWORD_DENSITY = 0.08


def _classify(block: dict, mode: str = "default") -> bool:
    """True = main content.  DOM heuristic (chrome containers out), then
    densitometric link-density gate, then a short-block gate that spares
    headings (boilerpipe keeps headlines adjacent to body text).

    ``mode='justext'`` adds the jusText core signal: real prose contains
    function words; a block of label-like text (nav crumbs, copyright
    lines, product grids) has near-zero stopword density and is dropped
    even when it is long and link-free."""
    if block["chrome"]:
        return False
    n_chars = len(block["text"])
    if n_chars:
        if block["link_chars"] / n_chars > MAX_LINK_DENSITY:
            return False
    words = block["text"].split() if block["text"] else []
    if len(words) < MIN_WORDS and block["tag"] not in HEADING_TAGS:
        # image-only blocks survive on their media items
        return any(k == "media" for k, _ in block["items"])
    if mode == "justext" and words and block["tag"] not in HEADING_TAGS:
        stop = sum(1 for w in words if w.lower().strip(".,;:!?") in STOPWORDS)
        if stop / len(words) < MIN_STOPWORD_DENSITY:
            return False
    return True


def extract_spans_from_html(
    html: str, mode: str = "default"
) -> list[tuple[str, str, str, int]]:
    """Pure-Python kernel (unit-tested directly): HTML -> ordered
    (kind, text, media_ref, offset) main-content spans.

    NULL html (a NULL text/lang/source upstream makes ``with_html``'s
    concat NULL, and pandas delivers it as None/NaN) extracts to zero
    spans — at 10^12 docs one bad row must never fail the task."""
    if html is None or not isinstance(html, str):
        return []
    out: list[tuple[str, str, str, int]] = []
    off = 0
    for block in _segment_blocks(html):
        if not _classify(block, mode):
            continue
        for kind, payload in block["items"]:
            if kind == "media":
                out.append(("media", "", payload, off))
            else:
                out.append(("text", payload, "", off))
            off += 1
    return out


def extract_main_content(
    df: DataFrame, html_col: str = "html", mode: str = "default",
    observe=None,
) -> DataFrame:
    """(doc_id, html, *passthrough) -> (doc_id, spans, *passthrough)
    interleaved main-content spans; columns other than doc_id and
    ``html_col`` (e.g. a bucket id) pass through unchanged.

    Arrow-batched ``mapInPandas`` — one narrow stage, no shuffle; the
    tokenizer is pure CPU per document so the stage scales linearly with
    partitions (the scaling-efficiency evidence for this lane rides the
    same harness as the deid stage).  ``mode`` selects the block
    classifier ('default' boilerpipe-style gates, 'justext' adds the
    stopword-density signal).  ``observe``, if given, is called in the
    worker on every output batch (a pandas frame) before it is yielded."""
    passthrough = [c for c in df.columns if c not in ("doc_id", html_col)]
    schema = StructType(DOCUMENTS_SCHEMA.fields + [df.schema[c] for c in passthrough])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            spans = [
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in extract_spans_from_html(h, mode)
                ]
                for h in pdf[html_col]
            ]
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype(str), "spans": spans,
                 **{c: pdf[c] for c in passthrough}}
            )
            if observe is not None:
                observe(out)
            yield out

    return df.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# layout lane — deterministic structured layout docs (PDF stand-in)
# ---------------------------------------------------------------------------

LAYOUT_MAGIC = "LAYOUT1"
# roles dropped by the layout heuristic (page chrome), vs kept content roles
CHROME_ROLES = frozenset(("pagenum", "runninghead", "footer"))


def synth_layout_sql(dialect: str = "spark") -> str:
    """Layout payload text from (doc_id, text, source): a two-page document
    with running heads, body blocks at descending y, a figure, and page
    numbers.  Format: one directive per line —
    ``BLOCK <page> <x> <y> <role> <text>`` / ``IMG <page> <x> <y> <ref>``."""
    docid = "cast(doc_id as string)" if dialect == "spark" else "cast(doc_id as varchar)"
    if dialect == "spark":
        h1 = f"substring(text, 1, {_HALF})"
        h2 = f"substring(text, {_HALF} + 1)"
    else:
        h1 = f"substr(text, 1, {_HALF})"
        h2 = f"substr(text, {_HALF} + 1)"
    nl = "chr(10)"
    pieces = [
        f"'{LAYOUT_MAGIC}'", nl,
        "'BLOCK 1 72 760 runninghead '", "source", nl,
        "'BLOCK 1 72 700 heading Document '", docid, nl,
        "'BLOCK 1 72 640 body '", h1, nl,
        "'IMG 1 200 400 media/'", docid, "'_0.png'", nl,
        "'BLOCK 1 72 40 pagenum 1'", nl,
        "'BLOCK 2 72 760 runninghead '", "source", nl,
        "'BLOCK 2 72 700 body '", h2, nl,
        "'BLOCK 2 72 40 pagenum 2'", nl,
    ]
    return f"concat({', '.join(pieces)})"


def with_layout(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", F.expr(synth_layout_sql("spark")).alias("layout")
    )


def parse_layout_payload(payload: str) -> list[tuple[str, str, str, int]]:
    """Layout text -> reading-order spans: sort blocks by (page, -y, x),
    drop chrome roles, interleave IMG directives as media spans."""
    lines = payload.split("\n")
    if not lines or lines[0] != LAYOUT_MAGIC:
        raise ValueError("not a LAYOUT1 payload")
    rows: list[tuple[int, int, int, str, str, str]] = []
    for ln in lines[1:]:
        if not ln:
            continue
        kind, rest = ln.split(" ", 1)
        if kind == "BLOCK":
            page, x, y, role, text = rest.split(" ", 4)
            rows.append((int(page), -int(y), int(x), "text", text, role))
        elif kind == "IMG":
            page, x, y, ref = rest.split(" ", 3)
            rows.append((int(page), -int(y), int(x), "media", ref, "figure"))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    out: list[tuple[str, str, str, int]] = []
    off = 0
    for _, _, _, kind, payload_val, role in rows:
        if role in CHROME_ROLES:
            continue
        if kind == "media":
            out.append(("media", "", payload_val, off))
        else:
            out.append(("text", payload_val, "", off))
        off += 1
    return out


def parse_layout(df: DataFrame, layout_col: str = "layout",
                 backend="layout1", on_error: str = "fail") -> DataFrame:
    """(doc_id, layout) -> (doc_id, spans).

    ``backend`` is the pluggable parser seam:

    * ``"layout1"`` — the built-in deterministic format (default);
    * a zero-arg CALLABLE — a factory constructing the real parser
      (pdfminer/PyMuPDF adapter) ONCE per task, amortized over every
      Arrow batch the task sees; the constructed object must expose
      ``.parse(payload) -> [(kind, text, media_ref, offset), ...]`` —
      the same reading-order tuples :func:`parse_layout_payload`
      returns, so gates/schema/ordering downstream are
      backend-independent;
    * ``"pdf"`` — names the real-PDF backend explicitly; the decode
      libs are absent in this container, so it raises (declared scope)
      — wire an adapter via the callable form instead.

    ``on_error='skip'`` maps a malformed payload (any ValueError /
    IndexError from the parser) to an EMPTY span array instead of
    failing the task — at 10^12 documents one corrupt payload must not
    kill the job (the reference escalates a ValueError instead,
    df2dicom.py:87-88; empty-span docs are countable downstream via
    ``size(spans) = 0``)."""
    factory = backend if callable(backend) else None
    if backend == "pdf":
        raise NotImplementedError(
            "real PDF parsing requires a PDF library not present in this "
            "environment; pass a zero-arg parser factory (see docstring) "
            "or use the LAYOUT1 deterministic format, which exercises the "
            "identical Spark plumbing (schema, batching, ordering)"
        )
    if factory is None and backend != "layout1":
        raise ValueError(f"unknown layout backend {backend!r}")
    if on_error not in ("fail", "skip"):
        raise ValueError(f"unknown on_error {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parse = parse_layout_payload if factory is None else factory().parse

        def parse_one(p: str) -> list:
            try:
                return [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in parse(p)
                ]
            except (ValueError, IndexError):
                if on_error == "skip":
                    return []
                raise

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "spans": [parse_one(p) for p in pdf[layout_col]],
                }
            )

    return df.mapInPandas(run, DOCUMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# page metadata (title / first heading / anchor count) — pure SQL tier
# ---------------------------------------------------------------------------

def page_metadata_cols(html_col: str, dialect: str = "spark") -> dict[str, str]:
    """Document-level metadata every extraction pipeline emits alongside the
    main text; regexp_extract group-1 semantics agree across dialects."""
    def ex(pat: str) -> str:
        return f"regexp_extract({html_col}, '{pat}', 1)"
    n_anchors = (
        f"size(regexp_extract_all({html_col}, '{_ANCHOR_RE}', 1))"
        if dialect == "spark"
        else f"len(regexp_extract_all({html_col}, '{_ANCHOR_RE}', 1))"
    )
    return {
        "title": ex("<title>([^<]*)</title>"),
        "h1": ex("<h1>([^<]*)</h1>"),
        "lang_attr": ex('<html lang="([^"]*)"'),
        "n_anchors": f"cast({n_anchors} as bigint)",
    }


def page_metadata(df: DataFrame, html_col: str = "html") -> DataFrame:
    cols = page_metadata_cols(html_col)
    return df.select("doc_id", *[F.expr(e).alias(n) for n, e in cols.items()])
