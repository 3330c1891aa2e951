"""Sub-document corpus deduplication: duplicated LINES and duplicated
token WINDOWS removed corpus-wide.

Two classic training-data cleanup operators the document-level dedup lane
(``dedup.py``) cannot express, because the duplicated unit is *inside* the
document:

* :func:`line_dedup` — C4/RefinedWeb-style line-level dedup: any line whose
  exact content occurs more than once in the corpus keeps only its first
  occurrence (ordered by ``(doc_id, line_idx)``); every other occurrence is
  dropped and the documents are rebuilt without them.
* :func:`substring_dedup` — exact-substring dedup in the spirit of
  "Deduplicating Training Data Makes Language Models Better"
  (arXiv:2107.06499): every window of ``window`` consecutive tokens is
  hashed; a window hash that occurs more than once corpus-wide keeps its
  first occurrence and the token ranges of all other occurrences are
  removed (overlapping removals merged per document).

Design notes for 100 TB:

* everything is JVM-side Spark SQL — explode / hash-aggregate / equi-join /
  higher-order array functions; zero Python on the hot path;
* the winner per fingerprint is ONE ``groupBy(fp)`` aggregate of algebraic
  functions (``min`` over a struct, ``count``), so Spark plans a partial
  aggregate before the shuffle: a hot fingerprint (a boilerplate line or a
  viral paragraph duplicated millions of times) sends at most one row per
  map task to its reducer.  That partial/final pair is the skew defence —
  salting the key would only add a second shuffle
  (tests/test_plans.py pins the plan);
* the keep/drop join back to the exploded rows is an equi-join on the
  fingerprint — skewed fingerprints are exactly the AQE skew-join case
  (``spark.sql.adaptive.skewJoin`` splits the hot partition at runtime);
* documents that lose every line/token still come back (empty text) — the
  rebuild aggregates a keep FLAG, it never inner-joins survivors;
* the exploded line/window subtree feeds BOTH the winner aggregation and
  the join back, so it is computed twice — DELIBERATELY recomputed, not
  cached: the subtree is scan → explode → project (no shuffle, streams
  from parquet), while caching it would materialize MORE rows than the
  corpus itself (one per line/token window).  This differs from
  ``dedup_decisions``, which persists its candidate PAIRS — a tiny,
  hot-band-capped table downstream of real shuffles;
* hashing follows the module-wide two-impl convention (``dedup.py``):
  ``portable`` = md5-derived (bit-identical in the pure-Python test
  oracle), ``fast`` = ``xxhash64`` (the at-scale choice, JVM integer mix).

Shared spec with the test oracles (tests/test_spandedup.py):

* lines(text)   = ``split(text, '\\n')`` (exact content, no trimming —
  trailing whitespace distinguishes lines, like C4);
* a line is *eligible* for dedup iff ``length(trim(line)) >=
  min_line_chars``; ineligible (blank/short) lines are always kept;
* raw tokens(text) = non-empty pieces of text split on ASCII ``\\s+``
  (case-PRESERVING — unlike the lowercased analysis tokenizer, these
  tokens rebuild the document text, joined by single spaces);
* window w(i) covers tokens [i, i+window) (1-based), hashed over the
  single-space join of its tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# case-preserving: these tokens are re-emitted as the deduped text
# (coalesce: a null text must yield an empty token array, not a null row)
RAW_TOKENS = "filter(split(coalesce(text, ''), '\\\\s+'), x -> x != '')"


def _fp_expr(value_sql: str, hash_impl: str) -> str:
    """128-bit fingerprint of a string expression, both impls.

    Width matters at the module's design scale: a 60-bit fingerprint
    (the old 15-hex-char truncation) over ~10^12 distinct corpus lines
    expects n²/2^61 ≈ hundreds of thousands of birthday collisions, each
    silently DELETING a unique line as a "duplicate" of unrelated text.
    portable = full md5 hex (the NORM_FP discipline); fast = two
    independent xxhash64 lanes concatenated (JVM integer mix, no hex
    round-trip, 128 bits)."""
    if hash_impl == "portable":
        return f"md5({value_sql})"
    if hash_impl == "fast":
        return _fast128(value_sql)
    raise ValueError(f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}")


def _fast128(value_sql: str) -> str:
    """Two-lane xxhash64 (the second lane mixes a literal into the hashed
    row) — 128 bits for ANY input type, arrays included."""
    return (
        f"concat(cast(xxhash64({value_sql}) as string), ':', "
        f"cast(xxhash64({value_sql}, 1) as string))"
    )


def _first_occurrence(rows: DataFrame, require_dupes: bool = False) -> DataFrame:
    """(fp) -> first occurrence, as (fp, w_doc_id, w_pos, n_occ).

    One exact ``min`` over struct(doc_id, pos) per fingerprint; its partial
    aggregate combines each map task's occurrences before the shuffle.
    ``require_dupes`` additionally keeps only fingerprints seen >= 2 times
    (substring_dedup needs the count; line_dedup does not — a unique line
    is its own winner and the keep-join handles it for free).
    """
    winners = rows.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("_w"), F.count("*").alias("n_occ")
    )
    if require_dupes:
        winners = winners.filter(F.col("n_occ") >= 2)
    return winners.select(
        "fp",
        F.col("_w.doc_id").alias("w_doc_id"),
        F.col("_w.pos").alias("w_pos"),
        "n_occ",
    )


def line_dedup(
    df: DataFrame, min_line_chars: int = 1, hash_impl: str = "portable"
) -> DataFrame:
    """Corpus-wide line-level dedup (C4-style), documents rebuilt.

    Any eligible line (``length(trim(line)) >= min_line_chars``) occurring
    more than once in the corpus keeps only its first occurrence by
    ``(doc_id, line_idx)``; ineligible lines always survive.  Returns one
    row per input document:

    ``doc_id, text (kept lines joined by \\n), n_lines, n_dropped``

    Shape: posexplode(lines) → one min-struct winner aggregate per line
    fingerprint (partial before the shuffle) → left equi-join keep flag →
    ONE groupBy(doc_id) rebuild (``array_sort(collect_list(struct(idx,
    line)))`` keeps line order without a per-doc sort shuffle).
    """
    lines = df.select(
        # null text would DROP the document at the posexplode; treat as empty
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    ).withColumn(
        "fp",
        F.when(
            F.length(F.trim("line")) >= min_line_chars,
            F.expr(_fp_expr("line", hash_impl)),
        ),
    )
    winners = _first_occurrence(
        lines.filter("fp is not null").select("fp", "doc_id", "pos")
    ).drop("n_occ")
    flagged = lines.join(winners, "fp", "left").withColumn(
        "keep",
        F.col("fp").isNull()
        | ((F.col("w_doc_id") == F.col("doc_id")) & (F.col("w_pos") == F.col("pos"))),
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.expr(
                "transform(filter(array_sort(collect_list("
                "struct(pos, keep, line))), s -> s.keep), s -> s.line)"
            ),
        ).alias("text"),
        F.count("*").cast("int").alias("n_lines"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("int").alias("n_dropped"),
    )


def _window_hashes(df: DataFrame, window: int, hash_impl: str) -> DataFrame:
    """One row per token window: (doc_id, pos, fp); pos is 1-based.

    Cost note: each position hashes ``window`` tokens — O(n_tokens ×
    window) bytes hashed per document.  That is the honest expression of
    the spec with whole-stage-codegen primitives; a rolling (polynomial)
    hash would need a scan/prefix primitive Spark's array HOFs lack (an
    ``aggregate`` fold that appends per element copies its accumulator —
    quadratic).  The ``fast`` impl hashes the token-array SLICE directly
    (``xxhash64`` walks complex types element-wise) — no per-window
    joined-string allocation; equivalent as a fingerprint because tokens
    are whitespace-free, so the space-joined string and the token array
    are in bijection.  ``portable`` keeps the md5-of-joined-string form
    the pure-Python oracle re-derives byte-for-byte.
    """
    tok = df.select("doc_id", F.expr(RAW_TOKENS).alias("toks"))
    if hash_impl == "fast":
        fp_sql = _fast128(f"slice(toks, i, {window})")
    else:
        # _fp_expr also rejects unknown impls
        fp_sql = _fp_expr(f"concat_ws(' ', slice(toks, i, {window}))", hash_impl)
    wins = (
        # sequence(1, n) DESCENDS when n < 1, so guard short docs explicitly
        f"case when size(toks) >= {window} then "
        f"transform(sequence(1, size(toks) - {window} + 1), "
        f"i -> {fp_sql}) "
        f"else array() end"
    )
    return tok.select(
        "doc_id", F.posexplode(F.expr(wins)).alias("pos0", "fp")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "fp")


def substring_dedup(
    df: DataFrame, window: int = 32, hash_impl: str = "portable"
) -> DataFrame:
    """Exact-substring dedup (arXiv:2107.06499 §4, rolling-window form).

    Every ``window``-token span whose hash occurs >= 2 times corpus-wide
    (including twice within one document) keeps its first occurrence by
    ``(doc_id, pos)``; the token ranges of every other occurrence are
    removed, overlapping removals merged per document.  Returns one row per
    input document:

    ``doc_id, text (surviving tokens joined by spaces), n_tokens,
    n_removed_tokens, n_dup_windows``

    Shape: window-hash explode → one winner aggregate per fingerprint (dup
    fingerprints only — unique windows never leave the aggregation) →
    equi-join back for losing occurrences → per-doc interval merge
    (``aggregate`` fold over the SORTED start list; the accumulator holds
    MERGED intervals, so a fully-duplicated document folds to one interval,
    not n) → token filter via ``exists`` over the merged intervals.

    Whitespace canonicalization: the rebuilt text joins the surviving raw
    tokens with single spaces (runs of whitespace do not survive; documents
    with no removals are returned canonicalized the same way, so output
    text is uniformly normalized).

    Windowed-approximation artifact (documented, shared with the test
    oracle): when a losing occurrence OVERLAPS the winning one (periodic
    self-repetition inside a document, e.g. the same token repeated), the
    removal ranges can eat into the winner's span — the suffix-array
    formulation keeps one maximal copy exactly; the rolling-window form
    keeps the winner's uncovered prefix.  Cross-document duplication (the
    dominant case at corpus scale) is unaffected.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    hashes = _window_hashes(df, window, hash_impl)
    winners = _first_occurrence(hashes, require_dupes=True)
    losers = (
        hashes.join(winners, "fp")
        .filter(
            (F.col("w_doc_id") != F.col("doc_id")) | (F.col("w_pos") != F.col("pos"))
        )
        .select("doc_id", "pos")
    )
    # merged removal intervals per doc: fold sorted starts into
    # array<struct<s:int, e:int>> (e exclusive); intervals [s, s+window)
    merge_fold = (
        "aggregate(array_sort(collect_list(pos)), "
        "cast(array() as array<struct<s: int, e: int>>), "
        "(acc, p) -> case when size(acc) > 0 and p <= element_at(acc, -1).e "
        f"then concat(slice(acc, 1, size(acc) - 1), "
        f"array(named_struct('s', element_at(acc, -1).s, "
        f"'e', greatest(element_at(acc, -1).e, cast(p + {window} as int))))) "
        f"else concat(acc, array(named_struct('s', cast(p as int), "
        f"'e', cast(p + {window} as int)))) end)"
    )
    removals = losers.groupBy("doc_id").agg(
        F.expr(merge_fold).alias("cuts"),
        F.count("*").cast("int").alias("n_dup_windows"),
    )
    rebuilt = (
        df.select("doc_id", F.expr(RAW_TOKENS).alias("toks"))
        .join(removals, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "case when cuts is null then concat_ws(' ', toks) else concat_ws(' ', "
                "transform(filter(transform(toks, (t, i) -> struct(t as t, i + 1 as p)), "
                "x -> not exists(cuts, c -> x.p >= c.s and x.p < c.e)), x -> x.t)) end"
            ).alias("text"),
            F.expr("size(toks)").cast("int").alias("n_tokens"),
            F.expr(
                "case when cuts is null then 0 else "
                "aggregate(cuts, 0, (a, c) -> a + least(c.e, size(toks) + 1) - c.s) end"
            ).cast("int").alias("n_removed_tokens"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("int").alias("n_dup_windows"),
        )
    )
    return rebuilt
