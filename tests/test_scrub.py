"""Free-text PHI scrub lane: regex date/time/email coarsening, dictionary
name redaction, consistent salted-hash UID remapping — vs DuckDB (SQL
chain) and the shared kernel (UID stage)."""

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from deidcm_spark.kernels import gen_dicom_uid
from deidcm_spark.operators import scrub
from deidcm_spark.schema import local_frame

ORG = "9.9.9.9.9"

CASES = [
    ("visit on 2021-07-19 at 14:31:07 ok", "visit on 2021-01-01 at 00:00:00 ok"),
    ("seen 19/07/2021 and 20210719 both", "seen 01/01/2021 and 20210101 both"),
    ("mail alice.smith+x@hospital.org now", "mail [EMAIL]@hospital.org now"),
    ("no phi here at all", "no phi here at all"),
    # bare-date rule requires a valid month, so 4+4 digit ids survive
    ("code 12345678 stays 99999999 stays", "code 12345678 stays 99999999 stays"),
]

NAMES = ["dupont", "martin"]


def test_sql_chain_golden_cases(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(CASES)), "text": [c[0] for c in CASES]})
    )
    got = {r["doc_id"]: r["text"] for r in scrub.scrub_text(df).collect()}
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want


def test_name_dictionary_word_boundary(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["Dr DUPONT saw Martin but not martini"]})
    )
    out = scrub.scrub_text(df, names=NAMES).collect()[0]["text"]
    assert out == "Dr [NAME] saw [NAME] but not martini"


def test_uid_remap_consistency(spark):
    txt1 = "study 1.2.840.10008.5 image 1.2.840.10008.5 other 1.2.3.4.5"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [txt1, "again 1.2.840.10008.5"]})
    )
    rows = {r["doc_id"]: r["text"] for r in scrub.scrub_uids(df, ORG).collect()}
    ps = gen_dicom_uid("", "1.2.840.10008.5", ORG)
    assert rows[0] == f"study {ps} image {ps} other " + gen_dicom_uid("", "1.2.3.4.5", ORG)
    # SAME uid in a different document maps to the SAME pseudonym
    assert rows[1] == f"again {ps}"
    # and matches the structured recipe lane's kernel exactly
    assert ps.startswith(ORG + ".") and len(ps) == len(ORG) + 1 + 30


def test_full_scrub_order(spark):
    # the OID must be remapped BEFORE the bare-date rule could corrupt it
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["uid 1.2.19890312.44.5 on 19890312"]})
    )
    out = scrub.scrub_documents(df, ORG).collect()[0]["text"]
    assert out == f"uid {gen_dicom_uid('', '1.2.19890312.44.5', ORG)} on 19890101"


def test_scrub_matches_duckdb(spark):
    base = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' LIMIT 100"
    ).df()
    # salt the corpus with synthetic PHI deterministically
    base["text"] = [
        f"{t} seen 2022-03-{(i % 28) + 1:02d} at 09:1{i % 10}:33 "
        f"by user{i}@site.fr"
        for i, t in zip(base["doc_id"], base["text"])
    ]
    df = spark.createDataFrame(base)
    got = {r["doc_id"]: r["text"] for r in scrub.scrub_text(df, NAMES).collect()}
    duck = duckdb.connect()
    duck.register("docs", base)
    expr = scrub.scrub_text_expr("text", NAMES, dialect="duckdb")
    want = dict(duck.execute(f"SELECT doc_id, {expr} FROM docs").fetchall())
    assert got == want


def test_scrub_spans_in_row(spark):
    spans = [
        {"kind": "text", "text": "op on 2020-05-06 at 11:22:33", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "m1.png", "offset": 1},
        {"kind": "text", "text": "bob@x.org wrote", "media_ref": "", "offset": 2},
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "spans": [spans]}),
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = scrub.scrub_spans(df).collect()[0]["spans"]
    assert [tuple(s) for s in out] == [
        ("text", "op on 2020-01-01 at 00:00:00", "", 0),
        ("media", "", "m1.png", 1),
        ("text", "[EMAIL]@x.org wrote", "", 2),
    ]


def test_scrub_spans_plan_stays_jvm(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "spans": [[]]}),
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    plan = scrub.scrub_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stream_extract(spark, tmp_path):
    from deidcm_spark import streaming

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = duckdb.sql(
        "SELECT doc_id, text, lang, source FROM "
        "'/root/testdata/sf0.001/documents.parquet' LIMIT 40"
    ).df()
    spark.createDataFrame(docs).write.mode("overwrite").parquet(src)
    q = streaming.stream_extract(spark, src, out, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 40
    # incremental restart: nothing new to do, output unchanged
    q2 = streaming.stream_extract(spark, src, out, ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 40
    one = got.filter(F.col("doc_id") == str(int(docs["doc_id"].iloc[0]))).first()
    assert [s["kind"] for s in one["spans"]].count("media") == 1


def test_scrub_spans_full_uids_and_order(spark):
    spans = [
        {"kind": "text", "text": "uid 1.2.840.99.5 on 2021-03-04", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "m.png", "offset": 1},
        {"kind": "text", "text": "same 1.2.840.99.5 again", "media_ref": "", "offset": 2},
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "spans": [spans]}),
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = scrub.scrub_spans_full(df, ORG).collect()[0]["spans"]
    ps = gen_dicom_uid("", "1.2.840.99.5", ORG)
    assert [tuple(s) for s in out] == [
        ("text", f"uid {ps} on 2021-01-01", "", 0),
        ("media", "", "m.png", 1),
        ("text", f"same {ps} again", "", 2),
    ]


def test_scrub_spans_full_uid_first_ordering(spark):
    # a date-like OID arc must be remapped as part of the UID, not coarsened
    spans = [{"kind": "text", "text": "s 1.2.19890312.44.5 e", "media_ref": "", "offset": 0}]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "spans": [spans]}),
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = scrub.scrub_spans_full(df, ORG).collect()[0]["spans"][0]["text"]
    assert out == f"s {gen_dicom_uid('', '1.2.19890312.44.5', ORG)} e"


# ---------------------------------------------------------------------------
# web-PII pass (cards / phones / IPv4)
# ---------------------------------------------------------------------------

PII_GOLDENS = [
    # Luhn-valid cards (4111111111111111 is the canonical Visa test PAN)
    ("pay 4111111111111111 now", "pay [CARD] now"),
    ("pay 4111-1111-1111-1111 now", "pay [CARD] now"),
    ("pay 4111 1111 1111 1111 now", "pay [CARD] now"),
    # Luhn-INVALID 16-digit run: left alone by the card rule; the phone
    # rule does not take it either (16 digits > 15)
    ("order 4111111111111112 ref", "order 4111111111111112 ref"),
    # phones
    ("call +33 1 23 45 67 89 ok", "call [PHONE] ok"),
    ("call (212) 555-0173 ok", "call [PHONE] ok"),
    ("call 06.12.34.56.78 ok", "call [PHONE] ok"),
    ("call 212.555.0173 ok", "call [PHONE] ok"),
    # 8 digits without +CC: NOT a phone (ISO dates stay)
    ("date 2021-01-01 and 20210101 stay", "date 2021-01-01 and 20210101 stay"),
    # IPv4, including two adjacent ones (the RE2 prefix-capture miss case)
    ("from 10.0.0.1 to 255.255.255.255 .", "from [IP] to [IP] ."),
    ("pair 1.2.3.4 5.6.7.8 done", "pair [IP] [IP] done"),
    # NOT IPs: out-of-range octet, >= 5 arcs (OID/version), digit-adjacent
    ("v 1.2.3.456 stays", "v 1.2.3.456 stays"),
    ("oid 1.2.840.10008.5 stays", "oid 1.2.840.10008.5 stays"),
    ("ver 10.2.3.4.5 stays", "ver 10.2.3.4.5 stays"),
    ("", ""),
]


def test_scrub_pii_goldens():
    for raw, want in PII_GOLDENS:
        assert scrub.scrub_pii_text(raw) == want, raw


def _luhn_runs(text):
    """Independent safety oracle: every maximal digit run (separators
    stripped) of card length with a passing checksum."""
    import re as _re

    out = []
    for m in _re.finditer(r"[\d -]+", text):
        digits = _re.sub(r"\D", "", m.group(0))
        if 13 <= len(digits) <= 19 and scrub.luhn_valid(digits):
            out.append(digits)
    return out


def test_scrub_pii_safety_properties():
    """After the pass: no Luhn-valid card-length digit run survives in
    any golden input, no strict dotted quad survives, and the pass is
    idempotent on every golden."""
    import re as _re

    quad = _re.compile(
        r"(?<![\d.])(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
        r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?![\d.])"
    )
    for raw, _ in PII_GOLDENS:
        got = scrub.scrub_pii_text(raw)
        assert not _luhn_runs(got), raw
        assert not quad.search(got), raw
        assert scrub.scrub_pii_text(got) == got, raw


def test_scrub_pii_hypothesis_idempotent_and_safe():
    from hypothesis import given, settings, strategies as st

    soup = st.text(
        alphabet="0123456789 .-+()[]CARDPHONEIPabc\n", min_size=0, max_size=60
    )

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(soup)
    def check(s):
        got = scrub.scrub_pii_text(s)
        assert not _luhn_runs(got)
        assert scrub.scrub_pii_text(got) == got

    check()


def test_scrub_pii_spark_matches_python(spark):
    rows = [(i, raw) for i, (raw, _) in enumerate(PII_GOLDENS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in scrub.scrub_pii(df).collect()}
    assert got == {i: want for i, (_, want) in enumerate(PII_GOLDENS)}
    # zero-shuffle scan -> project plan
    plan = scrub.scrub_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scrub_pii_constructive_recall():
    """Constructive recall check: SYNTHESIZED valid PII is always caught
    — cards built digit-by-digit with a computed Luhn check digit and
    random single separators, phones composed from +CC/(area)/group
    grammars — across deterministic pseudo-random trials."""
    import random

    rng = random.Random(20260819)
    for _ in range(200):
        # card: 12-18 random digits + Luhn check digit, random separators
        body = [rng.randrange(10) for _ in range(rng.randrange(12, 19))]
        total = 0
        for i, d in enumerate(reversed(body)):
            dd = d * 2 if i % 2 == 0 else d  # check digit will sit at i=0
            total += dd - 9 if dd > 9 else dd
        digits = body + [(10 - total % 10) % 10]
        assert scrub.luhn_valid("".join(map(str, digits)))
        sep = rng.choice(["", " ", "-"])
        txt = sep.join(
            "".join(map(str, digits[i:i + 4])) for i in range(0, len(digits), 4)
        )
        out = scrub.scrub_pii_text(f"pay {txt} now")
        assert "[CARD]" in out, txt

    for _ in range(200):
        cc = rng.choice(["", f"+{rng.randrange(1, 100)} "])
        area = rng.choice(["", f"({rng.randrange(100, 1000)}) "])
        sep = rng.choice([" ", "-"])
        n_groups = rng.randrange(3, 5)
        groups = [str(rng.randrange(100, 1000)) for _ in range(n_groups)]
        txt = cc + area + sep.join(groups)
        ndigits = sum(c.isdigit() for c in txt)
        out = scrub.scrub_pii_text(f"call {txt} ok")
        if 9 <= ndigits <= 15:
            # a 13+-digit phone whose digits happen to pass Luhn is taken
            # by the card stage first — either marker means it was caught
            assert "[PHONE]" in out or "[CARD]" in out, txt


def test_blank_names_never_build_zero_width_alternation(spark):
    """A trailing comma in CLI --names used to yield names=['alice',''],
    whose '(alice|)' alternation matched zero-width at EVERY word boundary
    and injected [NAME] between every token of every document."""
    df = spark.createDataFrame(
        [(1, "bob went home with alice today")], "doc_id long, text string"
    )
    out = scrub.scrub_text(df, names=["alice", "", "  "]).collect()[0]["text"]
    assert out == "bob went home with [NAME] today"
    # all-blank name list = no name step at all
    out2 = scrub.scrub_text(df, names=["", " "]).collect()[0]["text"]
    assert out2 == "bob went home with alice today"


# ---------------------------------------------------------------------------
# the Spark-only email guard: CASE WHEN instr(text, '@') > 0 — checked
# against the unguarded DuckDB chain
# ---------------------------------------------------------------------------

GUARD_CASES = [
    "plain words 2021-07-19 at 14:31:07 no at sign",
    "@",
    "@x.org opens the text",
    "@ opens the text, bob@y.org follows",
    "the text closes with bob@",
    "2021-07-19@x.org",
    "19/07/2021@x.org and 20210719@y.org",
    "Dupont alice.smith@site.fr wrote",
    "dupont@hospital.org and martin@x",
    "a@b@c",
    None,
]


def _duck_chain(texts, names):
    duck = duckdb.connect()
    duck.register("docs", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    expr = scrub.scrub_text_expr("text", names, dialect="duckdb")
    return dict(duck.execute(f"SELECT doc_id, {expr} FROM docs").fetchall())


@pytest.mark.parametrize("names", [[], NAMES], ids=["no_names", "names"])
def test_email_guard_matches_unguarded_duckdb(spark, names):
    """scrub_text and scrub_spans (whose chain runs on ``s.text`` inside
    transform()) equal the unguarded DuckDB chain on every guard edge:
    no '@', a lone '@', '@' first and last, a date glued to '@', names
    next to e-mails, a double '@' and NULL text."""
    want = _duck_chain(GUARD_CASES, names)
    assert want[5] == "[EMAIL]@x.org" and want[len(GUARD_CASES) - 1] is None

    df = spark.createDataFrame(
        list(enumerate(GUARD_CASES)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text"] for r in scrub.scrub_text(df, names).collect()}
    assert got == want

    spans = spark.createDataFrame(
        [("d", [{"kind": "text", "text": t, "media_ref": "", "offset": i}
                for i, t in enumerate(GUARD_CASES)]
          + [{"kind": "media", "text": "", "media_ref": "a@b.png",
              "offset": len(GUARD_CASES)}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = scrub.scrub_spans(spans, names).collect()[0]["spans"]
    assert {s["offset"]: s["text"] for s in out[:-1]} == want
    assert tuple(out[-1]) == ("media", "", "a@b.png", len(GUARD_CASES))


def test_email_guard_plan_shape(spark):
    """The Spark chain holds exactly one instr() guard and writes the
    pre-email chain at most twice (one CASE level, never a nesting that
    doubles per step) — in the expression and in the optimized plan; the
    DuckDB chain is unguarded."""
    first_step = scrub._pat_sql(scrub.DATE_ISO_RE, "spark")
    expr = scrub.scrub_text_expr("text", NAMES)
    assert expr.count("instr(") == 1
    assert expr.count(first_step) == 2
    duck = scrub.scrub_text_expr("text", NAMES, dialect="duckdb")
    assert "instr(" not in duck and "CASE" not in duck
    assert duck.count(scrub.DATE_ISO_RE) == 1

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for frame in (scrub.scrub_text(df, NAMES),
                  scrub.scrub_spans(df.selectExpr(
                      "array(named_struct('kind', 'text', 'text', text, "
                      "'media_ref', '', 'offset', 0)) AS spans"), NAMES)):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("instr(") == 1, plan
        assert plan.count("$1-01-01") <= 2, plan


@given(st.lists(st.text(alphabet="@._%+-aZ09 !\n\tÉ", max_size=30), min_size=1, max_size=1000))
@settings(max_examples=30, deadline=None)
def test_email_lookbehind_matches_duckdb_prefix_group(spark, texts):
    """The Spark chain's lookbehind e-mail pattern rewrites exactly what
    DuckDB's prefix-group pattern does, on strings dense in local-part,
    domain and separator characters, '@' runs and a non-ASCII letter."""
    want = _duck_chain(texts, [])
    df = local_frame(spark, list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in scrub.scrub_text(df, []).collect()}
    assert got == want
