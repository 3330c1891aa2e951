"""Full output verification against the repository's independent oracles.

Every function here takes plain Python rows (no Spark) and returns a list
of human-readable problems; an empty list means the output is correct.

* ``deid_spans``    — span-sequence equality per document against
  ``oracle.deidentify_doc_oracle`` (the pure-Python recipe oracle);
* ``redact_pixels`` — byte equality per image against
  ``oracle.redact_pixels_oracle`` over the regenerated ground truth;
* ``web_extract``   — the DuckDB twins of the ``phi_scrub_uids`` and
  ``extract_main_content`` contract oracles, composed;
* ``curate``        — the ledger and final sequences re-derived with the
  ``quality_gate``, ``line_dedup`` and ``dedup_exact`` oracle SQL, plus a
  Python twin of normalization and of sequence packing.
"""

from __future__ import annotations

import re

import numpy as np

MAX_REPORTED = 5


def _cap(problems: list[str], more: int) -> list[str]:
    if more > 0:
        problems.append(f"... and {more} more")
    return problems


def _span_tuple(s) -> tuple:
    return (s["kind"], s["text"], s["media_ref"], s["offset"])


def _compare_docs(expected: dict, actual: dict, what: str) -> list[str]:
    problems: list[str] = []
    more = 0
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    for label, keys in (("missing", missing), ("unexpected", extra)):
        if keys:
            problems.append(f"{len(keys)} {label} {what}(s), e.g. {sorted(keys)[:3]}")
    for key in sorted(expected.keys() & actual.keys()):
        if expected[key] != actual[key]:
            if len(problems) < MAX_REPORTED:
                problems.append(f"{what} {key!r} differs: expected {expected[key]!r:.300} got {actual[key]!r:.300}")
            else:
                more += 1
    return _cap(problems, more)


# ---------------------------------------------------------------------------
# deid_spans
# ---------------------------------------------------------------------------

def verify_deid(inputs: list[dict], outputs: list[dict], org_root: str, salt: str) -> list[str]:
    from deidcm_spark.oracle import deidentify_doc_oracle

    expected = {
        d["doc_id"]: [_span_tuple(s) for s in deidentify_doc_oracle(d["doc_id"], d["spans"], org_root, salt)]
        for d in inputs
    }
    actual: dict = {}
    dupes = 0
    for d in outputs:
        if d["doc_id"] in actual:
            dupes += 1
        actual[d["doc_id"]] = [_span_tuple(s) for s in d["spans"]]
    problems = _compare_docs(expected, actual, "document")
    if dupes:
        problems.insert(0, f"{dupes} duplicated document(s)")
    return problems


# ---------------------------------------------------------------------------
# redact_pixels
# ---------------------------------------------------------------------------

def media_index(media_ref: str) -> int:
    """``m_{seed}_{idx}`` -> idx."""
    return int(media_ref.rsplit("_", 1)[1])


def verify_pixels(outputs, seed: int, n_images: int, margin: int) -> tuple[list[str], dict]:
    """``outputs`` iterates (media_ref, width, height, pixels) rows.  Also
    returns box counts: boxes in the input and boxes the output painted."""
    from deidcm_spark.corpus import media_ground_truth
    from deidcm_spark.oracle import redact_pixels_oracle

    problems: list[str] = []
    more = 0
    seen: set[int] = set()
    dupes = 0
    n_boxes = painted = 0
    for ref, width, height, pixels in outputs:
        idx = media_index(ref)
        if idx in seen:
            dupes += 1
        seen.add(idx)
        payload, boxes = media_ground_truth(idx, seed)
        src = np.frombuffer(payload["pixels"], dtype=np.uint8).reshape(payload["height"], payload["width"])
        want = redact_pixels_oracle(src, boxes, margin=margin)
        got = np.frombuffer(pixels, dtype=np.uint8)
        if (width, height) != (payload["width"], payload["height"]) or got.size != want.size or not np.array_equal(got.reshape(want.shape), want):
            if len(problems) < MAX_REPORTED:
                problems.append(f"image {ref} differs from the oracle redaction")
            else:
                more += 1
            continue
        n_boxes += len(boxes)
        for b in boxes:
            x1, x2 = sorted((b["x1"], b["x2"]))
            y1, y2 = sorted((b["y1"], b["y2"]))
            region = want[y1:y2 + 1, x1:x2 + 1]
            if region.size and not region.any():
                painted += 1
    missing = set(range(n_images)) - seen
    if missing:
        problems.insert(0, f"{len(missing)} missing image(s), e.g. {sorted(missing)[:3]}")
    if dupes:
        problems.insert(0, f"{dupes} duplicated image(s)")
    return _cap(problems, more), {"boxes": n_boxes, "painted": painted}


# ---------------------------------------------------------------------------
# web_extract
# ---------------------------------------------------------------------------

def scrub_extract_expected(con, org_root: str, names: list[str]) -> dict:
    """DuckDB re-derivation over tables ``raw(doc_id, text, lang, source)``
    and ``truth(doc_id, uid)``: the phi_scrub_uids oracle (UID pseudonym by
    limb long division, then the two-dialect scrub chain) feeding the
    extract_main_content oracle.  Returns doc_id -> expected spans."""
    import __spark_entry__ as entry
    from deidcm_spark import duck_oracle as dk
    from deidcm_spark.operators import scrub

    # pseudonyms only for the documents that carry a UID, then joined in
    frag, last, pseud = dk.gen_dicom_uid_sql("truth", "uid", org_root)
    con.execute(f"CREATE OR REPLACE TEMP TABLE pseud AS WITH x AS (SELECT 1){frag} "
                f"SELECT doc_id, uid, {pseud} AS pseud FROM {last}")
    remapped = "CASE WHEN p.uid IS NULL THEN r.text ELSE replace(r.text, p.uid, p.pseud) END"
    chain = scrub.scrub_text_expr(remapped, names, dialect="duckdb")
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE documents AS
SELECT r.doc_id, {chain} AS text FROM raw r LEFT JOIN pseud p USING (doc_id)
""")
    expected: dict = {}
    for doc_id, pos, kind, text, media_ref in con.execute(entry._extract_main_sql()).fetchall():
        expected.setdefault(doc_id, []).append((pos, (kind, text, media_ref, pos)))
    return {k: [t for _, t in sorted(v)] for k, v in expected.items()}


def web_expected(raw: list[dict], uids: dict[int, str], org_root: str,
                 names: list[str]) -> tuple[dict, int]:
    """(doc_id -> expected spans, number of documents the scrub changes)."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("raw", pa.Table.from_pylist(raw))
        con.register("truth", pa.table({"doc_id": pa.array(list(uids), pa.int64()),
                                        "uid": pa.array(list(uids.values()), pa.string())}))
        expected = scrub_extract_expected(con, org_root, names)
        changed = con.execute(
            "SELECT count(*) FROM documents d JOIN raw r USING (doc_id) WHERE d.text <> r.text"
        ).fetchone()[0]
    finally:
        con.close()
    return expected, int(changed)


def verify_web(raw: list[dict], uids: dict[int, str], outputs: list[dict],
               org_root: str, names: list[str]) -> tuple[list[str], dict]:
    expected, changed = web_expected(raw, uids, org_root, names)
    actual = {d["doc_id"]: [_span_tuple(s) for s in d["spans"]] for d in outputs}
    problems = _compare_docs(expected, actual, "document")
    n_spans = sum(len(v) for v in actual.values())
    return problems, {"docs_changed": changed, "spans_out": n_spans}


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

def normalize_text(text: str) -> str:
    """Python twin of textops.normalize_text (same step list)."""
    from deidcm_spark.operators.textops import _CLEAN_STEPS

    for pat, rep in _CLEAN_STEPS:
        text = re.sub(pat, rep, text)
    return re.sub(r"^\s+|\s+$", "", text)


def _sql_with(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise RuntimeError("oracle SQL changed shape; cannot re-target it")
    return sql.replace(old, new)


def pack_pieces(docs: list[tuple[int, int]], seq_len: int) -> list[tuple]:
    """Concat-and-chunk over (doc_id, n_tokens) in doc_id order; one
    (doc_id, n_tokens, seq_id, seq_start, doc_start, piece_tokens) per piece."""
    pieces, before = [], 0
    for doc_id, n in sorted(docs):
        pos = 0
        while pos < n:
            g = before + pos
            seq_id, seq_start = divmod(g, seq_len)
            take = min(n - pos, seq_len - seq_start)
            pieces.append((doc_id, n, seq_id, seq_start, pos, take))
            pos += take
        before += n
    return pieces


def curate_expected(raw: list[dict], seq_len: int) -> dict:
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as entry

    norm = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in raw], pa.int64()),
        "text": pa.array([normalize_text(r["text"]) for r in raw], pa.string()),
    })
    con = duckdb.connect()
    try:
        con.register("normalized", norm)
        con.execute("CREATE TEMP VIEW documents AS SELECT doc_id, text FROM normalized")
        con.execute(f"CREATE TEMP TABLE gate AS {entry._quality_gate_sql()}")
        con.execute("DROP VIEW documents")
        con.execute(
            "CREATE TEMP VIEW documents AS SELECT n.doc_id, n.text FROM normalized n "
            "JOIN gate g USING (doc_id) WHERE g.keep"
        )
        ld_sql = _sql_with(entry._line_dedup_sql(), entry._lines_synth_expr("VARCHAR"), "text")
        con.execute(f"CREATE TEMP TABLE ld AS {ld_sql}")
        dedup_sql = _sql_with(
            entry._oracle_sql_cached()["dedup_exact"], f"({entry._DOUBLED_SQL})",
            "(SELECT doc_id, text FROM ld)",
        )
        con.execute(f"CREATE TEMP TABLE winners AS SELECT keep_doc_id FROM ({dedup_sql}) WHERE variant = 'plain'")
        final = con.execute(f"""
SELECT doc_id, text,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS bigint)
FROM ld WHERE doc_id IN (SELECT keep_doc_id FROM winners) ORDER BY doc_id
""").fetchall()
        n_gated = con.execute("SELECT count(*) FROM gate WHERE keep").fetchone()[0]
    finally:
        con.close()
    pieces = pack_pieces([(d, n) for d, _, n in final], seq_len)
    return {
        "ledger": {
            "docs_in": len(raw),
            "docs_after_gate": int(n_gated),
            "docs_after_dedup": len(final),
            "sequences": len({p[2] for p in pieces}),
            "seq_len": seq_len,
        },
        "final": {d: t for d, t, _ in final},
        "pieces": sorted(pieces),
    }


def verify_curate(expected: dict, ledger: dict, final: list[dict], pieces: list[tuple]) -> list[str]:
    problems = []
    if ledger != expected["ledger"]:
        problems.append(f"ledger {ledger} != expected {expected['ledger']}")
    actual_final = {r["doc_id"]: r["text"] for r in final}
    problems += _compare_docs(expected["final"], actual_final, "final document")
    actual_pieces = sorted(pieces)
    if actual_pieces != expected["pieces"]:
        n_bad = len(set(actual_pieces) ^ set(expected["pieces"]))
        problems.append(f"{n_bad} sequence piece(s) differ from the packing oracle")
    return problems
