"""Main-content extraction lane (north_rule): HTML boilerplate strip, DOM
heuristics, layout parse — span-sequence equality against an independent
oracle built here from the published template contract (not by calling the
engine's own kernel)."""

import math
import re
import string

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from deidcm_spark.operators import extract

import extract_reference

SF_DIR = "/root/testdata/sf0.001"


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _halves(text: str) -> tuple[str, str]:
    c = math.ceil(len(text) / 2)
    return text[:c], text[c:]


def _expected_spans(doc_id, text):
    """Independent oracle: the synthetic page keeps exactly h1, the two <p>
    halves (if >= 3 words), and the article image — in DOM order."""
    h1, h2 = _halves(text)
    out = [("text", f"Document {doc_id}", "")]
    if len(_norm(h1).split()) >= 3:
        out.append(("text", _norm(h1), ""))
    out.append(("media", "", f"media/{doc_id}_0.png"))
    if len(_norm(h2).split()) >= 3:
        out.append(("text", _norm(h2), ""))
    return [(k, t, m, i) for i, (k, t, m) in enumerate(out)]


# ---------------------------------------------------------------------------
# pure-Python kernel unit tests (handcrafted DOM cases)
# ---------------------------------------------------------------------------

def test_kernel_drops_chrome_and_keeps_article():
    html = (
        "<html><body><nav><a href='/'>Home</a> menu items here</nav>"
        "<article><h1>Big Title</h1><p>real body content with many words here</p>"
        "</article><footer>copyright footer text</footer></body></html>"
    )
    spans = extract.extract_spans_from_html(html)
    assert spans == [
        ("text", "Big Title", "", 0),
        ("text", "real body content with many words here", "", 1),
    ]


def test_kernel_link_density_gate():
    html = (
        "<body><p>plain sentence with enough words to pass easily</p>"
        '<p>nav row: <a href="/a">aaaa</a> <a href="/b">bbbb</a> '
        '<a href="/c">cccc</a></p></body>'
    )
    spans = extract.extract_spans_from_html(html)
    assert len(spans) == 1 and spans[0][1].startswith("plain sentence")


def test_kernel_short_block_and_heading():
    html = "<body><h2>Tiny</h2><p>no</p><p>three full words</p></body>"
    spans = extract.extract_spans_from_html(html)
    assert [s[1] for s in spans] == ["Tiny", "three full words"]


def test_kernel_media_interleaving_and_chrome_media():
    html = (
        '<body><header><img src="logo.png"></header>'
        '<p>first paragraph with several words</p><img src="fig1.png">'
        '<p>second paragraph with several words</p></body>'
    )
    spans = extract.extract_spans_from_html(html)
    assert [(s[0], s[1] or s[2]) for s in spans] == [
        ("text", "first paragraph with several words"),
        ("media", "fig1.png"),
        ("text", "second paragraph with several words"),
    ]
    assert [s[3] for s in spans] == [0, 1, 2]


def test_kernel_script_style_entities():
    html = (
        "<body><script>var a = 'words words words words';</script>"
        "<style>p { color: red }</style>"
        "<p>caf&#39;e &amp; bar &lt;tags&gt; stay decoded here</p></body>"
    )
    spans = extract.extract_spans_from_html(html)
    assert spans == [("text", "caf'e & bar <tags> stay decoded here", "", 0)]


def test_kernel_nested_chrome_depth():
    html = (
        "<body><aside><div><p>linkless but inside aside chrome</p></div></aside>"
        "<p>kept main words here</p></body>"
    )
    spans = extract.extract_spans_from_html(html)
    assert [s[1] for s in spans] == ["kept main words here"]


# ---------------------------------------------------------------------------
# Spark pipeline vs independent oracle (span-sequence equality)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs_pdf():
    return (
        duckdb.sql(
            f"SELECT doc_id, text, lang, source FROM '{SF_DIR}/documents.parquet' "
            "ORDER BY doc_id LIMIT 120"
        ).df()
    )


def test_extract_main_content_span_equality(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf)
    out = extract.extract_main_content(extract.with_html(docs))
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in out.collect()
    }
    assert len(got) == len(docs_pdf)
    for _, row in docs_pdf.iterrows():
        exp = _expected_spans(row["doc_id"], row["text"])
        assert got[str(row["doc_id"])] == exp, f"doc {row['doc_id']}"


def test_strip_tags_matches_duckdb(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf)
    spark_rows = {
        r["doc_id"]: (r["plain_text"], r["n_chars"])
        for r in extract.strip_tags(extract.with_html(docs)).collect()
    }
    duck = duckdb.connect()
    duck.register("docs", docs_pdf)
    strip = extract.strip_tags_expr(extract.html_expr("duckdb"), "duckdb")
    duck_rows = {
        str(r[0]): (r[1], r[2])
        for r in duck.execute(
            f"SELECT doc_id, {strip} AS p, length({strip}) FROM docs"
        ).fetchall()
    }
    assert {str(k): v for k, v in spark_rows.items()} == duck_rows


def test_link_density_boilerplate_signal(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf.head(40))
    ld = extract.link_density(extract.with_html(docs)).collect()
    assert all(r["n_links"] == 11 for r in ld)  # template has 11 anchors
    assert all(0 < r["link_density"] < 1 for r in ld)


# ---------------------------------------------------------------------------
# layout lane
# ---------------------------------------------------------------------------

def test_layout_parse_reading_order(spark, docs_pdf):
    sample = docs_pdf.head(60)
    docs = spark.createDataFrame(sample)
    out = extract.parse_layout(extract.with_layout(docs))
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in out.collect()
    }
    for _, row in sample.iterrows():
        h1, h2 = _halves(row["text"])
        exp = [
            ("text", f"Document {row['doc_id']}", "", 0),
            ("text", h1, "", 1),
            ("media", "", f"media/{row['doc_id']}_0.png", 2),
            ("text", h2, "", 3),
        ]
        assert got[str(row["doc_id"])] == exp


def test_layout_pdf_backend_stubbed(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ["1"], "layout": ["x"]}))
    with pytest.raises(NotImplementedError):
        extract.parse_layout(df, backend="pdf")


def test_layout_rejects_bad_magic():
    with pytest.raises(ValueError):
        extract.parse_layout_payload("NOTLAYOUT\nBLOCK 1 1 1 body x")


# ---------------------------------------------------------------------------
# resumable extraction job (north_rule: checkpointed lineage + metrics)
# ---------------------------------------------------------------------------

def test_extract_job_resume_after_failure(spark, docs_pdf, tmp_path):
    from deidcm_spark import lineage

    out_dir = str(tmp_path / "extract_job")
    docs = spark.createDataFrame(docs_pdf)

    # attempt 1 "crashes" after 3 of 8 buckets
    s1 = lineage.run_extract_job(
        spark, docs, out_dir, n_buckets=8, max_buckets_this_attempt=3
    )
    assert s1["processed"] == 3
    # attempt 2 resumes: only the 5 missing buckets are recomputed
    s2 = lineage.run_extract_job(spark, docs, out_dir, n_buckets=8)
    assert s2["committed_before"] == 3 and s2["processed"] == 5
    # attempt 3 is a no-op (idempotent)
    s3 = lineage.run_extract_job(spark, docs, out_dir, n_buckets=8)
    assert s3["processed"] == 0

    # output equals a direct single-pass extraction, span-for-span
    out = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in lineage.read_output(spark, out_dir).collect()
    }
    assert len(out) == len(docs_pdf)
    for _, row in docs_pdf.iterrows():
        assert out[str(row["doc_id"])] == _expected_spans(row["doc_id"], row["text"])

    # lineage metrics reconcile with the written output
    lin = lineage.read_lineage(spark, out_dir).toPandas()
    assert lin["status"].eq("committed").all()
    assert lin["n_docs"].sum() == len(docs_pdf)
    assert lin["n_media_spans"].sum() == len(docs_pdf)  # one image per doc
    assert (lin["n_text_spans"] + lin["n_media_spans"]).equals(lin["n_spans_out"])


# ---------------------------------------------------------------------------
# plan quality: the lane is shuffle-free (narrow stages only)
# ---------------------------------------------------------------------------

def test_extract_plan_has_no_shuffle(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf.head(10))
    plan = (
        extract.extract_main_content(extract.with_html(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    strip_plan = (
        extract.strip_tags(extract.with_html(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in strip_plan
    assert "BatchEvalPython" not in strip_plan  # pure codegen, no Python


def test_layout_on_error_skip(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["good", "bad_magic", "bad_line"],
            "layout": [
                "LAYOUT1\nBLOCK 1 72 700 body hello there world",
                "NOTLAYOUT\nBLOCK 1 1 1 body x",
                "LAYOUT1\nBLOCK 1 72",
            ],
        })
    )
    with pytest.raises(Exception):
        extract.parse_layout(df).collect()  # default on_error='fail'
    out = {r["doc_id"]: r["spans"] for r in
           extract.parse_layout(df, on_error="skip").collect()}
    assert [s["text"] for s in out["good"]] == ["hello there world"]
    assert out["bad_magic"] == [] and out["bad_line"] == []


def test_kernel_documented_edges():
    """Documented tokenizer contract edges: quoted '>' inside attributes
    ends the tag early (regex tokenizer, [^>]*); unclosed block tags flush
    at document end; doubly-nested anchors count link chars once per
    depth level."""
    # unclosed <p> still yields its text
    spans = extract.extract_spans_from_html("<body><p>unclosed block with words")
    assert [s[1] for s in spans] == ["unclosed block with words"]
    # nested anchors: all inner text counts as link chars -> dropped
    spans = extract.extract_spans_from_html(
        '<body><p><a href="/"><a href="/x">deep linked words here</a></a></p>'
        "<p>normal words stay here fine</p></body>"
    )
    assert [s[1] for s in spans] == ["normal words stay here fine"]


def test_kernel_br_separates_words():
    spans = extract.extract_spans_from_html(
        "<body><p>line one text<br>line two text<hr>line three text</p></body>"
    )
    assert [s[1] for s in spans] == ["line one text line two text line three text"]


def test_justext_mode_stopword_density():
    html = (
        "<body><p>Copyright Widgets Inc Product Catalog Spring Collection</p>"
        "<p>this is a real sentence with plenty of function words in it</p></body>"
    )
    default = [s[1] for s in extract.extract_spans_from_html(html)]
    justext = [s[1] for s in extract.extract_spans_from_html(html, mode="justext")]
    assert len(default) == 2  # default keeps both (long, link-free)
    assert justext == ["this is a real sentence with plenty of function words in it"]
    # headings are exempt from the density gate
    h = "<body><h1>Spring Catalog</h1><p>the body text is right here now</p></body>"
    assert [s[1] for s in extract.extract_spans_from_html(h, mode="justext")] == [
        "Spring Catalog", "the body text is right here now",
    ]


def test_pipeline_compositions(spark):
    from deidcm_spark import pipeline
    from deidcm_spark.ingest import documents_to_spans
    from deidcm_spark.operators.deidentify import deidentify_attributes

    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    ex = pipeline.scrub_extract(raw, "9.9.9.9.9").collect()
    assert len(ex) == 50 and all(len(r["spans"]) >= 2 for r in ex)
    de = deidentify_attributes(documents_to_spans(raw), "9.9.9.9.9",
                               with_metrics=True).collect()
    assert len(de) == 50
    assert all(r["spans"][-1]["text"].endswith("=YES") for r in de)
    assert all(r["n_pseudonymized"] > 0 for r in de)


def test_extract_null_html_yields_zero_spans(spark):
    """One NULL html row (a NULL text/lang/source upstream makes
    with_html's concat NULL) must extract to zero spans, not fail the
    task with a TypeError inside mapInPandas."""
    from deidcm_spark.operators.extract import (
        extract_main_content,
        extract_spans_from_html,
    )

    assert extract_spans_from_html(None) == []
    df = spark.createDataFrame(
        [("1", None), ("2", "<html><body><p>real content here that is "
                            "long enough to keep</p></body></html>")],
        "doc_id string, html string",
    )
    got = {r["doc_id"]: r["spans"] for r in extract_main_content(df).collect()}
    assert got["1"] == []
    assert len(got) == 2


# ---------------------------------------------------------------------------
# segmenter rewrite vs the frozen reference (tests/extract_reference.py)
# ---------------------------------------------------------------------------

# every tag family the segmenter dispatches on, in upper, lower and mixed
# case, plus tags it ignores
_TAG_NAMES = [
    c for name in ("p", "div", "h1", "h3", "li", "td", "article", "section",
                   "nav", "header", "footer", "aside", "a", "script", "style",
                   "img", "br", "hr", "span", "b", "x9", "h7")
    for c in (name, name.upper(), name[0].upper() + name[1:])
]
_ATTRS = st.sampled_from([
    "", " ", ' src="media/1.png"', " SRC=\"up.png\"", ' alt="x" src=""',
    ' src="a.png" src="b.png"', ' src=noquote.png', ' href="/x"',
    ' class="c" data-src="d.png"', " /", ' title="a<b"', "\n\tsrc=\"nl.png\"",
])
_WORD = st.text(alphabet="abcXYZ019 .,;:!?'\"\t\n\u00a0\u2003#-/=", max_size=12)
_ENTITY = st.sampled_from(
    [ent for ent, _ in extract._ENTITIES] + ["&", "&amp", "&#39", "&&amp;;"]
)


@st.composite
def _tag(draw):
    name = draw(st.sampled_from(_TAG_NAMES))
    closing = draw(st.sampled_from(["", "/"]))
    return f"<{closing}{name}{draw(_ATTRS)}>"


_PIECE = st.one_of(
    _tag(), _tag(), _tag(), _WORD, _WORD, _ENTITY,
    st.sampled_from([
        "<", ">", "< p>", "</>", "<>", "<1>", "<!DOCTYPE html>", "<!doctype>",
        "<!>", "<!-- c -->", "<!-- a <p> b > c -->", "<!-- </script> -->",
        "<!-- unclosed", "<!--->", "<br/>", "<img/>", '<img src="s.png"/>',
        "<script><p>hidden words</p></script>", "<style>a > b {}</style>",
        "<SCRIPT>x<a>y</a></Script>",
        "<nav><header><p>nested chrome text</p></header>",
    ]),
)
_SOUP = st.one_of(
    st.lists(_PIECE, max_size=40).map("".join),
    st.text(alphabet=string.ascii_letters + " <>/=\"'&;#!-\n\t", max_size=200),
)


@given(_SOUP)
@settings(max_examples=600, deadline=None, derandomize=True)
def test_segmenter_matches_frozen_reference(html):
    """The rewritten segmenter agrees with the frozen pre-rewrite copy on
    random tag soup: the same blocks (text, items, link chars, chrome,
    tag) and the same spans in both classifier modes."""
    assert extract._segment_blocks(html) == extract_reference.segment_blocks(html)
    for mode in ("default", "justext"):
        assert extract.extract_spans_from_html(html, mode) == \
            extract_reference.extract_spans_from_html(html, mode)


def test_segmenter_reference_edges():
    """Hand-picked edges the strategy may draw rarely, each against the
    frozen reference."""
    cases = [
        "<",
        "a < b <p>after a lone angle bracket in text</p>",
        "<!-- <p>not a block</p> --><p>real <!-- x > y --> block words</p>",
        "<!DOCTYPE html><HTML><BODY><P>upper case tags here</P></BODY></HTML>",
        "<Nav><p>chrome</p><NAV><p>deeper</p></nav><p>still chrome</p></Nav>"
        "<p>out of chrome words</p>",
        "<header><p>unclosed chrome with words",
        "<script><p>x</p><style>y</style></script><p>after the script tag</p>",
        "<style><!-- s --></STYLE><p>after the style block</p>",
        "<p>" + " ".join(ent for ent, _ in extract._ENTITIES) + " words</p>",
        '<p>a <img src="m/1.png"> b <IMG alt="no src"> c <img src=""></p>',
        "<p><img src='single.png'><br>after image<hr></p>",
        "<p><br><img src=\"x.png\"><br></p><p>a<br>b<hr>c d e</p>",
        '<p><a href="/">link words here</a> and more plain words</p>',
        "</a></a><p>closing anchors first then words</p>",
    ]
    for html in cases:
        assert extract._segment_blocks(html) == extract_reference.segment_blocks(html), html
        for mode in ("default", "justext"):
            assert extract.extract_spans_from_html(html, mode) == \
                extract_reference.extract_spans_from_html(html, mode), html
