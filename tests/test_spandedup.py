"""Sub-document dedup oracles: line_dedup and substring_dedup are checked
against full pure-Python re-derivations of the shared spec (hashlib md5 —
independent of Spark's hash implementations), on the synthetic sf0.001
documents corpus plus adversarial hand-built cases."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from deidcm_spark.operators.spandedup import line_dedup, substring_dedup

SF_DIR = "/root/testdata/sf0.001"


def _fp(s: str) -> str:
    # full 128-bit hex (the 15-hex truncation was a 60-bit key — birthday
    # collisions at the module's 10^12-line design scale delete unique text)
    return hashlib.md5(s.encode("utf-8")).hexdigest()


# ---------- pure-Python oracles ----------

def oracle_line_dedup(docs: dict[int, str], min_line_chars: int = 1):
    """docs: doc_id -> text.  Returns doc_id -> (text, n_lines, n_dropped)."""
    first: dict[int, tuple[int, int]] = {}
    split = {d: (t or "").split("\n") for d, t in docs.items()}
    for d in sorted(split):
        for i, line in enumerate(split[d]):
            if len(line.strip()) >= min_line_chars:
                fp = _fp(line)
                if fp not in first:
                    first[fp] = (d, i)
    out = {}
    for d, lines in split.items():
        kept = []
        dropped = 0
        for i, line in enumerate(lines):
            if len(line.strip()) >= min_line_chars and first[_fp(line)] != (d, i):
                dropped += 1
            else:
                kept.append(line)
        out[d] = ("\n".join(kept), len(lines), dropped)
    return out


def oracle_substring_dedup(docs: dict[int, str], window: int):
    """Returns doc_id -> (text, n_tokens, n_removed, n_dup_windows)."""
    toks = {d: re.split(r"\s+", t or "") for d, t in docs.items()}
    toks = {d: [x for x in ts if x != ""] for d, ts in toks.items()}
    occ: dict[int, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - window + 1):  # 0-based start
            fp = _fp(" ".join(ts[i : i + window]))
            occ.setdefault(fp, []).append((d, i + 1))
    losers: dict[int, list[int]] = {}
    n_dup: dict[int, int] = {}
    for fp, places in occ.items():
        if len(places) < 2:
            continue
        w = min(places)
        for d, p in places:
            if (d, p) != w:
                losers.setdefault(d, []).append(p)
                n_dup[d] = n_dup.get(d, 0) + 1
    out = {}
    for d, ts in toks.items():
        covered = set()
        for p in losers.get(d, []):
            covered.update(range(p, p + window))  # 1-based token positions
        kept = [t for i, t in enumerate(ts, start=1) if i not in covered]
        out[d] = (" ".join(kept), len(ts), len(covered & set(range(1, len(ts) + 1))), n_dup.get(d, 0))
    return out


def _collect_docs(df):
    return {
        r["doc_id"]: tuple(r[c] for c in df.columns if c != "doc_id")
        for r in df.collect()
    }


# ---------- fixtures ----------

@pytest.fixture(scope="module")
def line_corpus(spark):
    """Documents sharing boilerplate lines: nav chrome repeated everywhere,
    some unique lines, blank lines, a line duplicated WITHIN one doc."""
    rows = []
    for d in range(40):
        lines = [
            "Home | About | Contact",          # hot boilerplate (every doc)
            f"unique body {d} first",
            "",                                 # blank: always kept
            f"shared pair {d % 5}",             # duplicated across 8 docs
            f"unique body {d} second",
            "  ",                               # whitespace-only: kept
            "Home | About | Contact",           # within-doc repeat of hot line
        ]
        rows.append((d, "\n".join(lines)))
    rows.append((99, ""))                        # empty doc
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def sub_corpus(spark):
    """Token-window duplication: a viral 40-token passage pasted into many
    docs at different offsets, plus clean docs and a short doc."""
    viral = " ".join(f"viral{i}" for i in range(40))
    rows = []
    for d in range(30):
        own = " ".join(f"d{d}w{i}" for i in range(25))
        if d % 3 == 0:
            rows.append((d, f"{own} {viral} tail{d} end{d}"))
        elif d % 3 == 1:
            rows.append((d, f"lead{d} {viral} {own}"))
        else:
            rows.append((d, own + f" solo{d}"))
    rows.append((100, "tiny doc below window"))
    rows.append((101, " ".join(["rep"] * 70)))   # periodic self-repetition
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """One line and one 10-token passage in EVERY document, over several
    partitions: the hot-key shape the partial aggregate must combine."""
    return spark.range(0, 600, numPartitions=6).selectExpr(
        "cast(id as int) as doc_id",
        "concat('the same hot line', chr(10), 'doc ', cast(id as string), "
        "' body', chr(10), 'one two three four five six seven eight nine ten') "
        "as text",
    )


# ---------- line_dedup ----------

def test_line_dedup_matches_oracle(spark, line_corpus, hot_corpus):
    for df in (line_corpus, hot_corpus):
        docs = {r.doc_id: r.text for r in df.collect()}
        assert _collect_docs(line_dedup(df)) == oracle_line_dedup(docs)


def test_line_dedup_min_chars(spark, line_corpus):
    docs = {r.doc_id: r.text for r in line_corpus.collect()}
    expected = oracle_line_dedup(docs, min_line_chars=15)
    assert _collect_docs(line_dedup(line_corpus, min_line_chars=15)) == expected


def test_line_dedup_first_occurrence_wins(spark, line_corpus):
    out = _collect_docs(line_dedup(line_corpus))
    # doc 0 holds the corpus-first copy of the hot boilerplate line (pos 0);
    # its within-doc repeat (pos 6) and every other doc's copies are dropped
    assert out[0][0].splitlines()[0] == "Home | About | Contact"
    assert "Home | About | Contact" not in out[1][0]
    # the empty doc survives with its (kept) empty line
    assert out[99] == ("", 1, 0)


def test_line_dedup_repartition_stable(spark, line_corpus):
    a = _collect_docs(line_dedup(line_corpus))
    b = _collect_docs(line_dedup(line_corpus.repartition(7, "doc_id")))
    assert a == b


def test_line_dedup_fast_impl_same_decisions(spark, line_corpus):
    """xxhash64 path: same keep/drop decisions (no md5 collision at this
    size, so the fingerprints are interchangeable)."""
    a = _collect_docs(line_dedup(line_corpus))
    b = _collect_docs(line_dedup(line_corpus, hash_impl="fast"))
    assert a == b


def test_line_dedup_sf0001_sample(spark):
    """Real synthetic corpus slice vs the oracle."""
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id % 5 = 0")
    )
    docs = {r.doc_id: r.text for r in df.collect()}
    expected = oracle_line_dedup(docs, min_line_chars=5)
    got = _collect_docs(line_dedup(df, min_line_chars=5))
    assert got == expected


# ---------- substring_dedup ----------

def test_substring_dedup_matches_oracle(spark, sub_corpus, hot_corpus):
    for df in (sub_corpus, hot_corpus):
        docs = {r.doc_id: r.text for r in df.collect()}
        for window in (8, 32):
            expected = oracle_substring_dedup(docs, window)
            got = _collect_docs(substring_dedup(df, window=window))
            assert got == expected, f"window={window}"


def test_substring_dedup_viral_passage_kept_once(spark, sub_corpus):
    out = _collect_docs(substring_dedup(sub_corpus, window=32))
    survivors = [d for d, (text, *_) in out.items() if "viral0" in text and "viral39" in text]
    # exactly one document keeps the full viral passage (the first occurrence)
    assert survivors == [0]
    # clean docs untouched (modulo whitespace canonicalization)
    assert out[2][0].startswith("d2w0 ") and out[2][3] == 0


def test_substring_dedup_short_doc_passthrough(spark, sub_corpus):
    out = _collect_docs(substring_dedup(sub_corpus, window=32))
    assert out[100] == ("tiny doc below window", 4, 0, 0)


def test_substring_dedup_periodic_self_repeat(spark, sub_corpus):
    """70x'rep' at window=32: all windows identical; winner pos=1, losers
    pos 2..39 → removal [2, 71) leaves exactly the first token (the
    documented windowed-approximation artifact)."""
    out = _collect_docs(substring_dedup(sub_corpus, window=32))
    assert out[101] == ("rep", 70, 69, 38)


def test_substring_dedup_fast_impl(spark, sub_corpus):
    base = _collect_docs(substring_dedup(sub_corpus, window=16))
    fast = substring_dedup(sub_corpus, window=16, hash_impl="fast")
    assert _collect_docs(fast) == base


def test_substring_dedup_rejects_window_below_one(spark, sub_corpus):
    # unchecked, window=0 returns wrong counts silently and window=-1 dies
    # in a task
    for window in (0, -1):
        with pytest.raises(ValueError, match="window"):
            substring_dedup(sub_corpus, window=window)


def test_substring_dedup_sf0001_sample(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id % 7 = 0")
    )
    docs = {r.doc_id: r.text for r in df.collect()}
    expected = oracle_substring_dedup(docs, 16)
    got = _collect_docs(substring_dedup(df, window=16))
    assert got == expected


# ---------- physical plans ----------

def test_spandedup_plans_no_nested_loop(spark, sub_corpus, line_corpus):
    """Both rebuilds are hash-agg + equi-join pipelines: the executed plan
    must contain no BroadcastNestedLoopJoin / CartesianProduct."""
    for df in (line_dedup(line_corpus), substring_dedup(sub_corpus, window=16)):
        df.collect()  # execute THIS df so AQE finalizes its plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoop" not in plan
        assert "CartesianProduct" not in plan


def test_new_ops_on_empty_corpus(spark):
    """Every session-4 operator degrades to an empty (or passthrough)
    result on an empty corpus — no div-by-zero, no collect surprises."""
    from deidcm_spark.operators.bloom import bloom_build, bloom_probe
    from deidcm_spark.operators.textops import pack_sequences, quality_gate

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert line_dedup(empty).count() == 0
    assert substring_dedup(empty).count() == 0
    assert pack_sequences(empty, seq_len=16).count() == 0
    assert quality_gate(empty).count() == 0
    flt = bloom_build(empty, 1 << 12)
    assert flt.count() == 0
    probe = bloom_probe(
        spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        flt, 1 << 12,
    )
    assert [r.maybe_seen for r in probe.collect()] == [False]
