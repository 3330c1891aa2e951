"""Free-text PHI scrubbing (north_star: "regex+dictionary PHI scrubbing
(names, dates, UIDs) with consistent salted-hash UID remapping").

The recipe lane (operators/deidentify.py) handles *structured* attribute
spans; this lane scrubs *free text* — the extracted main content of the
interleaved corpus (operators/extract.py) or any plain text column:

* **dates**  — coarsened to January 1st, year preserved (the same policy as
  the recipe's DA/DT action, deid_mammogram.py:483-485): ``2021-07-19`` →
  ``2021-01-01``, ``19/07/2021`` → ``01/01/2021``, bare ``20210719`` →
  ``20210101``;
* **times**  — ``14:31:07`` → ``00:00:00`` (recipe TM action analogue);
* **emails** — local part replaced: ``[EMAIL]@domain`` (domain kept —
  population-level, not identifying);
* **names**  — dictionary-driven word-boundary replacement with
  ``[NAME]`` (broadcast list — the engine analogue of deidcm's
  authorized-words dictionary, inverted: listed words are *redacted*
  here, matching PHI-scrub semantics);
* **UIDs**   — dotted OIDs (``1.2.840....``) remapped through the SAME
  deterministic salted-hash as the recipe lane (kernels.gen_dicom_uid):
  one UID maps to one pseudonym EVERYWHERE in the corpus — referential
  integrity across documents survives scrubbing.

All but the UID stage are pure ``regexp_replace`` chains — whole-stage
codegen, byte-identical DuckDB oracle (two-dialect spec like
operators/extract.py).  The UID stage needs sha256→decimal (not
SQL-expressible) and runs as one Arrow-batched ``mapInPandas`` pass.

**E-mail guard (Spark dialect only).**  Java's regex engine retries the
e-mail local-part class at every word start and fails at the missing
``@``, on every document; most documents hold no ``@``.  So the Spark
chain runs the e-mail step as ``CASE WHEN instr(<input>, '@') > 0 THEN
<e-mail step> ELSE <chain so far> END``.  The guard is exact: every e-mail
match consumes an ``@``, and the date and time steps before it neither add
nor remove one (their patterns and replacements hold only digits, ``-``,
``/`` and ``:``), so testing the input column equals testing the step's
own input; NULL text takes the ELSE branch and stays NULL.  Only one
branch runs per row, so the pre-e-mail chain, written in both, is
evaluated once.  The DuckDB dialect stays unguarded: the oracles built
from it check the guard instead of checking themselves.

**E-mail pattern (two dialects).**  A local part must not follow ``@`` or
another local-part character.  RE2 (DuckDB) has no lookbehind, so its
pattern captures the preceding character (or ``^``) and re-emits it;
Java's takes the same test as a lookbehind, ``(?<![@A-Za-z0-9._%+-])``,
and matches only the e-mail.  The matches are the same: a match ends on a
domain character, itself a local-part character, so in both forms a
match can never start right where the previous one ended, and the
character before any other start is unconsumed.  On the 12k seed-1 web
documents (local[4], guarded step alone, ``noop`` write, median of 6) the
lookbehind took 0.18-0.19 s against 0.49-0.51 s, over a 0.07-0.09 s bare
scan, with the same output.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.kernels import gen_dicom_uid

# ---------------------------------------------------------------------------
# shared regex spec (Java regex and RE2 agree on this subset)
# ---------------------------------------------------------------------------

DATE_ISO_RE = r"(\d{4})-(\d{2})-(\d{2})"          # 2021-07-19
DATE_EU_RE = r"(\d{2})/(\d{2})/(\d{4})"            # 19/07/2021
DATE_BARE_RE = r"\b(\d{4})(0[1-9]|1[0-2])(\d{2})\b"  # 20210719
TIME_RE = r"\b(\d{2}):(\d{2}):(\d{2})\b"
# the local part must not be preceded by '@' or another local-part char —
# otherwise "a@b@c" rescrubs forever ("[EMAIL]@b@c" → "[EMAIL]@[EMAIL]@c").
# RE2 (the DuckDB oracle) has no lookbehind, so the preceding char is a
# captured prefix group re-emitted in the replacement.
EMAIL_RE = r"(^|[^@A-Za-z0-9._%+-])([A-Za-z0-9._%+-]+)@([A-Za-z0-9.-]+)"
# the Spark dialect's form of the same matches (module docstring)
EMAIL_RE_SPARK = r"(?<![@A-Za-z0-9._%+-])([A-Za-z0-9._%+-]+)@([A-Za-z0-9.-]+)"
UID_RE = r"\b\d+(?:\.\d+){3,}\b"                   # dotted OID, >= 4 arcs

# (spark_pattern, spark_replacement, duckdb_pattern, duckdb_replacement)
# applied in ORDER
_SQL_STEPS: list[tuple[str, str, str, str]] = [
    (DATE_ISO_RE, "$1-01-01", DATE_ISO_RE, r"\1-01-01"),
    (DATE_EU_RE, "01/01/$3", DATE_EU_RE, r"01/01/\3"),
    (DATE_BARE_RE, "$10101", DATE_BARE_RE, r"\10101"),
    (TIME_RE, "00:00:00", TIME_RE, "00:00:00"),
    (EMAIL_RE_SPARK, "[EMAIL]@$2", EMAIL_RE, r"\1[EMAIL]@\3"),
]


def _pat_sql(pat: str, dialect: str) -> str:
    # Spark SQL string literals process backslash escapes (\b would become
    # backspace) — double them; DuckDB literals are raw
    return pat.replace("\\", "\\\\") if dialect == "spark" else pat


def scrub_text_expr(col: str, names: list[str], dialect: str = "spark") -> str:
    """The SQL-expressible scrub chain (dates, times, emails, name
    dictionary) as one nested regexp_replace expression; on Spark the
    e-mail step sits under the ``@`` guard (module docstring)."""
    g = ", 'g'" if dialect == "duckdb" else ""
    e = col
    for spark_pat, spark_rep, duck_pat, duck_rep in _SQL_STEPS:
        pat, rep = (spark_pat, spark_rep) if dialect == "spark" else (duck_pat, duck_rep)
        step = f"regexp_replace({e}, '{_pat_sql(pat, dialect)}', '{rep}'{g})"
        if pat == EMAIL_RE_SPARK:
            # one CASE level: the chain so far is written twice but
            # evaluated once per row
            step = f"CASE WHEN instr({col}, '@') > 0 THEN {step} ELSE {e} END"
        e = step
    # drop empty/blank names BEFORE building the alternation: '(x|)' has a
    # zero-width branch that matches at every word boundary and injects
    # [NAME] between every token of every document (a trailing comma in
    # CLI --names was enough to trigger it)
    names = [n for n in (names or []) if n and n.strip()]
    if names:
        # names are user input (CLI --names): regex-escape each one (re.escape
        # emits only the \<punct> forms Java regex and RE2 share for ASCII) and
        # escape single quotes for the SQL string literal ('' in both dialects)
        alt = "|".join(re.escape(n) for n in sorted(names))
        name_pat = _pat_sql(rf"(?i)\b({alt})\b", dialect).replace("'", "''")
        e = f"regexp_replace({e}, '{name_pat}', '[NAME]'{g})"
    return e


def scrub_text(df: DataFrame, names: list[str] | None = None,
               text_col: str = "text") -> DataFrame:
    """Plain-text column scrub — pure codegen, no Python."""
    return df.withColumn(
        text_col, F.expr(scrub_text_expr(text_col, names or []))
    )


# ---------------------------------------------------------------------------
# consistent UID remapping (salted hash, same kernel as the recipe lane)
# ---------------------------------------------------------------------------

_UID_PAT = re.compile(UID_RE)


def _uid_remapper(org_root: str):
    """A ``re.sub`` callback mapping each matched UID to its pseudonym,
    memoized: the corpus-wide UID universe is far smaller than its
    mentions.  Make one per task — the memo lives as long as the callback."""
    memo: dict[str, str] = {}

    def remap(m: re.Match) -> str:
        uid = m.group(0)
        hit = memo.get(uid)
        if hit is None:
            hit = memo[uid] = gen_dicom_uid("", uid, org_root)
        return hit

    return remap


def remap_uids_in_text(text: str, org_root: str) -> str:
    """Replace every dotted OID with its deterministic pseudonym.  Same
    input UID → same output UID across every call site (kernels.
    gen_dicom_uid parity with the structured lane)."""
    return _UID_PAT.sub(_uid_remapper(org_root), text)


def scrub_uids(df: DataFrame, org_root: str, text_col: str = "text") -> DataFrame:
    """Arrow-batched UID remap pass (sha256→30-decimal-digit is not
    SQL-expressible).  A per-task memo (:func:`_uid_remapper`) makes
    repeated UIDs a hash hit."""
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        remap = _uid_remapper(org_root)
        for pdf in batches:
            pdf[text_col] = [
                _UID_PAT.sub(remap, t) if t else t for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# web-PII pass: credit cards (Luhn-validated), phone numbers, IPv4
# ---------------------------------------------------------------------------
#
# The BigCode/StarCoder-style PII pass a web/code pipeline runs before
# training.  These three need boundary semantics the two-dialect SQL chain
# cannot express: global regexp_replace with a captured-prefix "boundary"
# CONSUMES the boundary character, so two PII items separated by one char
# ("1.2.3.4 5.6.7.8") miss the second match, and RE2 (the DuckDB oracle
# dialect) has no lookaround to fix that; Luhn validation is conditional
# per match besides.  So the pass is one Arrow-batched mapInPandas scan
# (the scrub_uids pattern): zero shuffles, row-local, Python-regex
# lookarounds for exact boundaries, and only Luhn-VALID digit runs become
# ``[CARD]`` — a 16-digit order number with a failing checksum is left
# alone.

# 13-19 digits with optional single space/dash separators, not digit-adjacent
_CARD_PAT = re.compile(r"(?<![\d-])(?:\d[ -]?){12,18}\d(?!\d)")
# optional +CC / (area), then a 6-14-digit run split by space/dot/dash;
# validated afterwards by TOTAL digit count (9-15, or 8 with +CC) so ISO
# dates (8 digits) never match and "(212) 555-0173"-style area+7 does
_PHONE_PAT = re.compile(
    r"(?<![\d/.-])(?:\+\d{1,3}[ .-]?)?(?:\(\d{1,4}\)[ .-]?)?\d(?:[ .-]?\d){5,13}(?![\d/.-])"
)
_OCTET = r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IP_PAT = re.compile(rf"(?<![\d.])(?:{_OCTET}\.){{3}}{_OCTET}(?![\d.])")


def luhn_valid(digits: str) -> bool:
    """Luhn checksum (ISO/IEC 7812): doubled-every-second-from-the-right
    digit sum ≡ 0 mod 10."""
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def _card_sub(m: re.Match) -> str:
    digits = re.sub(r"[ -]", "", m.group(0))
    if 13 <= len(digits) <= 19 and luhn_valid(digits):
        return "[CARD]"
    return m.group(0)


def _phone_sub(m: re.Match) -> str:
    s = m.group(0)
    n = sum(c.isdigit() for c in s)
    if not (9 <= n <= 15 or (n == 8 and s.startswith("+"))):
        return s
    if "." in s:
        # dotted candidates must LOOK like a phone grouping, not an
        # OID/version arc list: all-pairs (French 06.12.34.56.78) or
        # 3-3-4 (US 212.555.0173).  Dotted quads are gone already (the
        # IP stage runs first).
        lens = [len(g) for g in re.findall(r"\d+", s)]
        if not (all(v <= 2 for v in lens) or lens == [3, 3, 4]):
            return s
    return "[PHONE]"


def scrub_pii_text(text: str) -> str:
    """The per-string web-PII scrub.  Order matters twice: cards first
    (a card run is phone-shaped), then IPv4 BEFORE phones (a dotted quad
    like 255.255.255.255 is a 12-digit separator-grouped run the phone
    rule would otherwise take)."""
    text = _CARD_PAT.sub(_card_sub, text)
    text = _IP_PAT.sub("[IP]", text)
    return _PHONE_PAT.sub(_phone_sub, text)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Web-PII scrub pass over a text column — ``[CARD]`` (Luhn-valid
    13-19-digit runs), ``[PHONE]`` (9-15-digit separator-grouped runs,
    +CC/(area) aware), ``[IP]`` (strict-octet dotted quads, never a ≥5-arc
    OID/version prefix thanks to the ``(?![\\d.])`` guard).

    One zero-shuffle Arrow pass; scan → project plan, composes with
    scrub_text/scrub_uids in either order (the UID pseudonym alphabet is
    dotted 30-digit arcs — arc values far above 255 — so the strict-octet
    IP rule cannot chew a remapped UID)."""
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[text_col] = [
                scrub_pii_text(t) if t else t for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema)


def scrub_documents(
    df: DataFrame,
    org_root: str,
    names: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Full free-text scrub: UID remap first (dotted OIDs would otherwise
    be chewed by the bare-date rule), then the SQL chain."""
    return scrub_text(scrub_uids(df, org_root, text_col), names, text_col)


def scrub_spans(df: DataFrame, names: list[str] | None = None) -> DataFrame:
    """Scrub the TEXT spans of an interleaved (doc_id, spans) table in-row
    — ``transform()`` higher-order function, media spans untouched, order
    preserved.  (SQL chain only; compose with scrub_uids via
    posexplode/regroup or run scrub_documents upstream on raw text.)"""
    inner = scrub_text_expr("s.text", names or [])
    return df.withColumn(
        "spans",
        F.expr(
            "transform(spans, s -> if(s.kind = 'text', "
            f"named_struct('kind', s.kind, 'text', {inner}, "
            "'media_ref', s.media_ref, 'offset', s.offset), s))"
        ),
    )


def scrub_spans_full(
    df: DataFrame, org_root: str, names: list[str] | None = None
) -> DataFrame:
    """Complete span-table scrub: UID remap FIRST (an OID arc that looks
    like a bare date would otherwise be chewed by the date rule — same
    ordering as scrub_documents; a remapped 30-digit arc can never match
    the 8-digit \\b-bounded date pattern), then the SQL chain via in-row
    ``transform()``.  Media spans and order untouched; same per-task memo
    as scrub_uids so repeated UIDs hash once."""
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        remap = _uid_remapper(org_root)
        for pdf in batches:
            pdf["spans"] = [
                [
                    {**s, "text": _UID_PAT.sub(remap, s["text"])}
                    if s["kind"] == "text" and s["text"]
                    else s
                    for s in spans
                ]
                for spans in pdf["spans"]
            ]
            yield pdf

    return scrub_spans(df.mapInPandas(run, schema), names)
