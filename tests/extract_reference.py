"""Frozen reference of the HTML segmenter (test-only).

A verbatim copy of ``extract._segment_blocks`` and
``extract.extract_spans_from_html`` as they stood before the segmenter's
hot loop was rewritten (``finditer`` + ``m.group()``, entity decode on
every text token, ``<img>`` ``src`` searched on the whole tag).  The
property test in tests/test_extract.py checks that the engine's kernel
agrees with it on random tag soup.  Do not optimise this module: its only
job is to stay what it was.  The block classifier is not part of the
segmenter and is taken from the engine.
"""

from __future__ import annotations

import re

from deidcm_spark.operators.extract import _classify

BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th blockquote pre article section div".split()
)
CHROME_TAGS = frozenset("nav header footer aside".split())
_SKIP_CONTENT = frozenset(("script", "style"))
_TOKEN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*>|<!--.*?-->|<![^>]*>|[^<]+", re.S
)
_SRC_RE = re.compile(r'src="([^"]*)"')
_WS_RE = re.compile(r"\s+")
_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&copy;", "(c)"),
]


def _decode_entities(s: str) -> str:
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    return s


def segment_blocks(html: str) -> list[dict]:
    blocks: list[dict] = []
    cur_parts: list[str] = []
    cur_items: list[tuple[str, str]] = []  # ('text', txt) | ('media', src)
    link_chars = 0
    anchor_depth = 0
    chrome_depth = 0
    skip_tag: str | None = None
    cur_tag = "body"

    def flush() -> None:
        nonlocal cur_parts, cur_items, link_chars
        txt = _WS_RE.sub(" ", "".join(cur_parts)).strip()
        if txt or any(k == "media" for k, _ in cur_items):
            items = [
                ("text", _WS_RE.sub(" ", t).strip()) if k == "text" else (k, t)
                for k, t in cur_items
            ]
            items = [it for it in items if it[0] == "media" or it[1]]
            blocks.append(
                {
                    "tag": cur_tag,
                    "text": txt,
                    "items": items,
                    "link_chars": link_chars,
                    "chrome": chrome_depth > 0,
                }
            )
        cur_parts, cur_items, link_chars = [], [], 0

    for m in _TOKEN_RE.finditer(html):
        closing, tag = m.group(1), m.group(2)
        if tag is None:  # text node or comment
            tok = m.group(0)
            if tok.startswith("<!") or skip_tag:
                continue
            txt = _decode_entities(tok)
            cur_parts.append(txt)
            if cur_items and cur_items[-1][0] == "text":
                cur_items[-1] = ("text", cur_items[-1][1] + txt)
            else:
                cur_items.append(("text", txt))
            if anchor_depth > 0:
                link_chars += len(txt.strip())
            continue
        tag = tag.lower()
        if skip_tag:
            if closing and tag == skip_tag:
                skip_tag = None
            continue
        if tag in _SKIP_CONTENT:
            if not closing:
                skip_tag = tag
            continue
        if tag == "img":
            src = _SRC_RE.search(m.group(0))
            cur_items.append(("media", src.group(1) if src else ""))
            continue
        if tag in ("br", "hr"):
            cur_parts.append(" ")
            if cur_items and cur_items[-1][0] == "text":
                cur_items[-1] = ("text", cur_items[-1][1] + " ")
            continue
        if tag == "a":
            anchor_depth += 0 if closing else 1
            if closing and anchor_depth > 0:
                anchor_depth -= 1
            continue
        if tag in BLOCK_TAGS or tag in CHROME_TAGS:
            flush()
            if tag in CHROME_TAGS:
                chrome_depth += -1 if closing else 1
                chrome_depth = max(chrome_depth, 0)
            if not closing:
                cur_tag = tag
            else:
                cur_tag = "body"
    flush()
    return blocks


def extract_spans_from_html(
    html: str, mode: str = "default"
) -> list[tuple[str, str, str, int]]:
    if html is None or not isinstance(html, str):
        return []
    out: list[tuple[str, str, str, int]] = []
    off = 0
    for block in segment_blocks(html):
        if not _classify(block, mode):
            continue
        for kind, payload in block["items"]:
            if kind == "media":
                out.append(("media", "", payload, off))
            else:
                out.append(("text", payload, "", off))
            off += 1
    return out
