"""Text-analysis operators for a large-scale training-data pipeline.

Beyond the reference's scope (it de-identifies; a 100 TB corpus pipeline also
filters and scores).  Everything here is pure ``pyspark.sql.functions`` /
Spark SQL — whole-stage-codegen'd JVM expressions, zero Python on the hot
path.  Each operator has an exactly-matching ANSI-SQL oracle (see
``__spark_entry__.oracle_sql``); definitions below are the shared spec:

* tokens(text)  = non-empty pieces of lower(text) split on ``\\s+``;
* token md5 int = first 8 hex chars of md5(token) as a bigint;
* all ratios rounded where they feed the oracle hash.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame, functions as F

from deidcm_spark.schema import local_frame


def ascii_case(x: str, upper: bool = False) -> str:
    """``lower(x)`` (``upper(x)`` when ``upper``) as Spark SQL that maps
    ASCII text through ``translate``.  Spark's case mapping goes through
    ICU, and its first call in a JVM builds an ICU title-case table over
    every code point: ~1.4 s of the first job that lower-cases, 4-core
    host.  ``translate`` never reaches ICU.  ``length = octet_length``
    holds exactly on ASCII text, where both mappings agree; any other
    text (and NULL) takes ``lower``/``upper``."""
    src, dst = string.ascii_uppercase, string.ascii_lowercase
    fn = "lower"
    if upper:
        src, dst, fn = dst, src, "upper"
    return (
        f"CASE WHEN length({x}) = octet_length({x}) "
        f"THEN translate({x}, '{src}', '{dst}') ELSE {fn}({x}) END"
    )


TOKENS = f"filter(split({ascii_case('text')}, '\\\\s+'), x -> x != '')"

# whitespace-normalized exact-dedup fingerprint — ONE definition (Spark
# dialect); dedup_exact, fingerprint() and the streaming dedup all key
# off this, so a drift would silently de-synchronize batch and streaming
# dedup decisions
NORM_FP = f"md5(trim(regexp_replace({ascii_case('text')}, '\\\\s+', ' ')))"

# word-3-gram shingles via slice+zip_with: tokens are referenced a CONSTANT
# number of times per row.  The naive transform(sequence(...), i -> T[i]...)
# form re-evaluates the full tokenize expression PER ELEMENT inside the
# lambda (no common-subexpression elimination through higher-order
# functions): 15x slower measured at sf0.1.  The *_expr builders take the
# token-array SQL as a parameter so multi-signal operators can reference a
# once-materialized token COLUMN instead of re-inlining the tokenizer
# (layered-projection pattern — see gopher_repetition's docstring).
def shingles_all_expr(tok: str = TOKENS) -> str:
    """ALL word-3-grams in order (non-distinct — repetition signals need
    the multiplicities)."""
    nsh = f"greatest(size({tok}) - 2, 0)"
    return (
        f"zip_with(zip_with("
        f"slice({tok}, 1, {nsh}), slice({tok}, 2, {nsh}), (a, b) -> concat(a, ' ', b)),"
        f" slice({tok}, 3, {nsh}), (ab, c) -> concat(ab, ' ', c))"
    )


def twograms_all_expr(tok: str = TOKENS) -> str:
    n2 = f"greatest(size({tok}) - 1, 0)"
    return (
        f"zip_with(slice({tok}, 1, {n2}), slice({tok}, 2, {n2}),"
        f" (a, b) -> concat(a, ' ', b))"
    )


SHINGLES_ALL = shingles_all_expr()
SHINGLES = f"array_distinct({SHINGLES_ALL})"  # distinct set: minhash/Jaccard
TWOGRAMS_ALL = twograms_all_expr()

# tiny marker-word lists for the n-gram/stopword language heuristic
LANG_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "et", "est", "que", "pour", "dans", "avec"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "es": ["el", "los", "las", "y", "un", "una", "es", "que", "para", "por"],
}

EN_STOPWORDS = LANG_WORDS["en"]


def _sql_list(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _tokenized(df: DataFrame) -> DataFrame:
    """Layered-projection base: materialize the token array ONCE as a
    column so every signal expression reads it instead of re-inlining the
    tokenizer (interpreted HOFs get no codegen CSE; the inlined
    text_stats tree tokenized each row ~25× and its per-construction
    ANALYSIS time dominated the bench — see gopher_repetition)."""
    return df.select("doc_id", "text", F.expr(TOKENS).alias("_tok"))


def _token_cols(tok: str = TOKENS) -> list[Column]:
    return [
        F.expr(f"size({tok})").alias("n_tokens"),
        F.expr("cast(ceil(length(text) / 4.0) as bigint)").alias("n_bpe_est"),
    ]


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token counting (BPE-ish heuristic: words + a chars/4 bound)."""
    return _tokenized(df).select("doc_id", *_token_cols(tok="_tok"))


def _quality_cols(with_tokens: bool = True, tok: str = TOKENS) -> list[Column]:
    toks = f"size({tok})"
    stop = f"size(filter({tok}, t -> array_contains({_sql_list(EN_STOPWORDS)}, t)))"
    punct = "length(text) - length(regexp_replace(text, '[.,;:!?]', ''))"
    cols = [F.expr(toks).alias("n_tokens")] if with_tokens else []
    return cols + [
        F.expr(f"round(length(text) / greatest({toks}, 1), 3)").alias("avg_token_len"),
        F.expr(f"round(({punct}) / greatest(length(text), 1), 4)").alias("punct_ratio"),
        F.expr(f"round(({stop}) / greatest({toks}, 1), 4)").alias("stopword_ratio"),
        F.expr(
            f"round(least({toks} / 100.0, 1.0)"
            f" * (1.0 - ({punct}) / greatest(length(text), 1))"
            f" * (0.5 + 0.5 * least(5.0 * ({stop}) / greatest({toks}, 1), 1.0)), 4)"
        ).alias("quality"),
    ]


def quality_score(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score."""
    return _tokenized(df).select("doc_id", *_quality_cols(tok="_tok"))


def _lang_cols(tok: str = TOKENS) -> list[Column]:
    counts = {
        lang: f"size(filter({tok}, t -> array_contains({_sql_list(words)}, t)))"
        for lang, words in LANG_WORDS.items()
    }
    pred = (
        f"case when {counts['en']} >= {counts['fr']} and {counts['en']} >= {counts['de']}"
        f"  and {counts['en']} >= {counts['es']} then 'en' "
        f"when {counts['fr']} >= {counts['de']} and {counts['fr']} >= {counts['es']} then 'fr' "
        f"when {counts['de']} >= {counts['es']} then 'de' else 'es' end"
    )
    return [
        F.expr(counts["en"]).alias("en_hits"),
        F.expr(counts["fr"]).alias("fr_hits"),
        F.expr(pred).alias("lang_pred"),
    ]


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-word language heuristic with fixed tie-break en>fr>de>es."""
    return _tokenized(df).select("doc_id", *_lang_cols(tok="_tok"))


# URL pattern, ONE spec two dialects (CLAUDE.md rule: Spark string literals
# eat single backslashes, DuckDB literals are raw — never inline twice)
URL_RE = r"https?://[^\s]+"


def url_pat_sql(dialect: str) -> str:
    return URL_RE.replace("\\", "\\\\") if dialect == "spark" else URL_RE


def quality_flags(df: DataFrame) -> DataFrame:
    """Additional corpus-filter signals (C4/Gopher-style heuristics):
    repetition ratio (1 − distinct/total tokens), digit ratio, uppercase
    ratio, URL mentions.  Pure codegen, exact SQL oracle."""
    return _tokenized(df).select("doc_id", *_flag_cols(tok="_tok"))


def _flag_cols(tok: str = TOKENS) -> list[Column]:
    toks = f"size({tok})"
    dtoks = f"size(array_distinct({tok}))"
    digits = "length(text) - length(regexp_replace(text, '[0-9]', ''))"
    uppers = "length(text) - length(regexp_replace(text, '[A-Z]', ''))"
    urls = f"size(regexp_extract_all(text, '{url_pat_sql('spark')}', 0))"
    return [
        F.expr(f"round(1.0 - ({dtoks}) / greatest({toks}, 1), 4)").alias("repetition_ratio"),
        F.expr(f"round(({digits}) / greatest(length(text), 1), 4)").alias("digit_ratio"),
        F.expr(f"round(({uppers}) / greatest(length(text), 1), 4)").alias("upper_ratio"),
        F.expr(f"cast({urls} as bigint)").alias("n_urls"),
    ]


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 'repetition removal'): documents dominated by a few repeated
    n-grams are boilerplate/spam and get filtered before training.

    * ``top2_frac``   — fraction of all 2-grams taken by the single most
      frequent 2-gram (Gopher's "top n-gram fraction");
    * ``dup3_frac``   — fraction of all 3-grams whose gram occurs more
      than once (Gopher's "duplicate n-gram fraction").

    Shape: ROW-LOCAL, zero shuffle.  Both signals depend only on the
    document's own text, so distributing them as
    explode → groupBy(doc_id, gram) → groupBy(doc_id) (the previous form)
    shuffled one row per distinct (doc, gram) — nearly the full corpus
    volume, twice, to compute a per-row scalar.  Instead each row sorts
    its n-gram array once (O(k log k), JVM codegen) and a single
    ``aggregate()`` run-length scan extracts the max multiplicity
    (top2) / duplicated-gram mass (dup3).  At 100 TB the plan is
    scan → project, perfectly partition-local.  Both ratios rounded to
    4 dp (oracle hash contract).

    Evaluated in LAYERED projections, not inlined macros: each
    ``TWOGRAMS_ALL``/``SHINGLES_ALL`` mention expands to 4-6 ``split``
    calls and each signal mentions its macro 3×, so the inlined form was
    a ~30-way-duplicated expression tree.  That cost twice: analysis of
    the huge tree dominated wall time whenever the query is constructed
    fresh (3.09 s → 0.82 s construct+collect at sf0.1, 3.8×), and the
    interpreted HOFs re-evaluated shared subtrees at execution (0.204 s
    → 0.171 s execute-only).  The chained selects keep every array
    computed ONCE — CollapseProject leaves multi-referenced non-cheap
    aliases alone — and results are identical."""
    toks = df.select("doc_id", F.expr(TOKENS).alias("_tok"))
    grams = toks.select("doc_id", *_gram_cols("_tok"))
    return grams.select("doc_id", *_gopher_cols())


def _gram_cols(tok: str) -> list[Column]:
    """Sorted 2-/3-gram array columns the gopher signals scan."""
    return [
        F.expr(f"array_sort({twograms_all_expr(tok)})").alias("_g2"),
        F.expr(f"array_sort({shingles_all_expr(tok)})").alias("_g3"),
    ]


def _gopher_cols() -> list[Column]:
    """top2_frac / dup3_frac over the ``_g2``/``_g3`` columns."""
    # run-length scan over the SORTED gram array: equal grams are adjacent,
    # so one aggregate() pass tracks (prev gram, current run, answer)
    top2 = (
        "case when size(_g2) = 0 then 0.0 else round("
        "aggregate(_g2, "
        "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        "(acc, x) -> if(acc.prev is not null and x = acc.prev, "
        "named_struct('prev', x, 'run', acc.run + 1L, "
        "'best', greatest(acc.best, acc.run + 1L)), "
        "named_struct('prev', x, 'run', 1L, 'best', greatest(acc.best, 1L))), "
        "acc -> acc.best) / size(_g2), 4) end"
    )
    # dup mass: when a run reaches length 2 both copies start counting
    # (+2), each further copy adds 1 — total = sum of counts > 1
    dup3 = (
        "case when size(_g3) = 0 then 0.0 else round("
        "aggregate(_g3, "
        "named_struct('prev', cast(null as string), 'run', 0L, 'dup', 0L), "
        "(acc, x) -> if(acc.prev is not null and x = acc.prev, "
        "named_struct('prev', x, 'run', acc.run + 1L, "
        "'dup', acc.dup + if(acc.run = 1L, 2L, 1L)), "
        "named_struct('prev', x, 'run', 1L, 'dup', acc.dup)), "
        "acc -> acc.dup) / size(_g3), 4) end"
    )
    # coalesce: a NULL text tokenizes to a NULL array (size() = NULL, not
    # 0) — such docs score 0.0, matching the previous left-join + fill form
    return [
        F.expr(f"coalesce({top2}, 0.0)").alias("top2_frac"),
        F.expr(f"coalesce({dup3}, 0.0)").alias("dup3_frac"),
    ]


# Gopher-flavored rule cascade defaults (Rae et al. 2021 §A1.1 + C4-style
# hygiene), expressed over THIS engine's signal definitions.  Every
# threshold is data-dependent in practice — override per corpus.
DEFAULT_GATES: dict[str, float] = {
    "min_tokens": 50,
    "max_tokens": 100_000,
    "min_avg_token_len": 3.0,
    "max_avg_token_len": 10.0,
    "max_repetition_ratio": 0.6,   # 1 - distinct/total tokens
    "max_digit_ratio": 0.2,
    "max_upper_ratio": 0.2,
    "min_stopword_ratio": 0.005,
    "max_top2_frac": 0.20,
    "max_dup3_frac": 0.20,
    "max_urls": 5,
}


def quality_gate(df: DataFrame, overrides: dict | None = None) -> DataFrame:
    """Model-free quality filter: the Gopher/C4 rule cascade as ONE
    row-local projection — every signal (token counts, word-length band,
    repetition/digit/upper ratios, stopword floor, top-2-gram and
    duplicate-3-gram fractions, URL count) evaluated in a single scan
    over the layered token/gram base, then compared against the
    thresholds.  Returns the signal columns plus:

    ``reasons`` — array of violated rule names (empty = clean), so
    curation can report WHY mass was dropped per source/shard;
    ``keep``    — ``size(reasons) == 0``.

    Thresholds come from :data:`DEFAULT_GATES`, overridable per call
    (unknown keys raise — a typo'd threshold silently gating nothing is
    the failure mode to fear).  Plan shape: scan → project, zero
    exchanges — the filter costs one pass at any corpus size.

    Do not select rows with a ``Filter`` on a derived column
    (``.filter("keep")``): Catalyst pushes the predicate below the
    layered projections and re-inlines the whole signal tree into it —
    38 tokenizer ``split(`` calls per row instead of 1, every interpreted
    higher-order function re-run per call.  :func:`quality_gate_survivors`
    returns the kept rows in a form the optimizer cannot push down.
    """
    sig = _gate_signals(df)
    return sig.withColumn("reasons", _gate_reasons(overrides)).withColumn(
        "keep", F.size("reasons") == 0
    )


def quality_gate_survivors(
    df: DataFrame, overrides: dict | None = None
) -> DataFrame:
    """The ``(doc_id, text)`` rows :func:`quality_gate` keeps, in one scan
    with the tokenizer evaluated once per row.

    ``keep`` is applied through a generator —
    ``inline(CASE WHEN keep THEN array(struct(doc_id, text)) ELSE
    array() END)`` — which Catalyst cannot push below the layered
    projections (a ``Filter`` on ``keep`` gets inlined into the scan; see
    quality_gate), and no self-join is needed to get the text back.
    ``text`` is the input's own value (a NULL text is gated as empty but
    never rewritten), and a NULL ``doc_id`` is dropped, as a ``doc_id``
    semi-join against the gate would.  ``doc_id`` is taken to be a key:
    each row is gated on its own text.
    """
    sig = _gate_signals(df.withColumn("_raw", F.col("text")), carry=("_raw",))
    keep = (F.size(_gate_reasons(overrides)) == 0) & F.col("doc_id").isNotNull()
    row = F.struct(F.col("doc_id"), F.col("_raw").alias("text"))
    return sig.select(
        F.inline(F.when(keep, F.array(row)).otherwise(F.array()))
    )


def _gate_signals(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """``doc_id``, the ``carry`` columns and every gate signal, computed
    over the layered token/gram base."""
    # NULL text gates exactly like empty text (rejected: too_few_tokens).
    # Without the coalesce EVERY signal is NULL under ANSI, every rule
    # comparison is NULL, reasons compacts to [] and the empty document
    # sails through with keep=true.  Mirrored in _quality_gate_sql.
    df = df.withColumn("text", F.coalesce("text", F.lit("")))
    return df.select(
        "doc_id", *carry, "text", F.expr(TOKENS).alias("_tok")
    ).select(
        "doc_id",
        *carry,
        "text",
        "_tok",
        *_gram_cols("_tok"),
    ).select(
        "doc_id",
        *carry,
        *_token_cols(tok="_tok"),
        *_quality_cols(with_tokens=False, tok="_tok"),
        *_flag_cols(tok="_tok"),
        *_gopher_cols(),
    )


def _gate_reasons(overrides: dict | None) -> Column:
    """The violated rule names over the :func:`_gate_signals` columns."""
    gates = dict(DEFAULT_GATES)
    if overrides:
        unknown = set(overrides) - set(gates)
        if unknown:
            raise ValueError(f"unknown gate(s): {sorted(unknown)}")
        gates.update(overrides)
    rules = [
        ("too_few_tokens", F.col("n_tokens") < gates["min_tokens"]),
        ("too_many_tokens", F.col("n_tokens") > gates["max_tokens"]),
        ("avg_token_too_short", F.col("avg_token_len") < gates["min_avg_token_len"]),
        ("avg_token_too_long", F.col("avg_token_len") > gates["max_avg_token_len"]),
        ("repetitive_tokens", F.col("repetition_ratio") > gates["max_repetition_ratio"]),
        ("digit_heavy", F.col("digit_ratio") > gates["max_digit_ratio"]),
        ("upper_heavy", F.col("upper_ratio") > gates["max_upper_ratio"]),
        ("stopword_poor", F.col("stopword_ratio") < gates["min_stopword_ratio"]),
        ("top2gram_dominated", F.col("top2_frac") > gates["max_top2_frac"]),
        ("dup3gram_heavy", F.col("dup3_frac") > gates["max_dup3_frac"]),
        ("url_heavy", F.col("n_urls") > gates["max_urls"]),
    ]
    return F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])
    )


def decontaminate(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Test-set decontamination (GPT-3/PaLM appendix style): flag corpus
    documents sharing any word-3-gram with a held-out benchmark.

    ``benchmark`` is a (gram: string) table — at real scale a few million
    rows from the eval suites, ALWAYS broadcast-size relative to the
    corpus, so the plan is explode(corpus shingles) → broadcast semi-ish
    join → per-doc count.  The corpus side streams; nothing shuffles but
    the matched (doc_id, gram) pairs.  Returns contaminated docs only:
    (doc_id, n_hits)."""
    grams = df.select(
        "doc_id", F.explode(F.expr(SHINGLES)).alias("gram")
    )
    return (
        grams.join(F.broadcast(benchmark.select("gram").distinct()), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def benchmark_ngrams(df: DataFrame, max_doc_id: int = 3) -> DataFrame:
    """Distinct 3-grams of the first ``max_doc_id`` documents — the
    stand-in 'benchmark' relation for :func:`decontaminate` demos/tests."""
    return (
        df.filter(F.col("doc_id") < max_doc_id)
        .select(F.explode(F.expr(SHINGLES)).alias("gram"))
        .distinct()
    )


def vocab_top_terms(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: global token counts, top-k with deterministic
    tie-break.  explode → hash aggregate (map-side partial combine) →
    TakeOrdered top-k — the canonical vocab-building shape; at corpus
    scale the only shuffle is the partial-aggregated (token, count) pairs."""
    return (
        df.select(F.explode(F.expr(TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(k)
    )


def tfidf_top_term(df: DataFrame) -> DataFrame:
    """Per-document top TF-IDF term: tf = in-doc occurrences, idf =
    ln((N+1)/(df+1)), score rounded to 4 dp BEFORE ranking so the ranking
    is stable across engines; ties break on the token.  Two hash
    aggregations + one broadcast-size join against the df table — no
    per-row Python."""
    from pyspark.sql import Window

    n_docs = df.count()
    tok = df.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "token").select(
        "doc_id",
        "token",
        F.expr(f"round(tf * ln(({n_docs} + 1) / (df + 1)), 4)").alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: whitespace-normalized md5 + a winnowing-style
    sketch (md5 of the 4 smallest word-3-gram hashes)."""
    return _tokenized(df).select("doc_id", *_fp_cols(tok="_tok"))


def _fp_cols(tok: str = TOKENS) -> list[Column]:
    shingles = f"array_distinct({shingles_all_expr(tok)})"
    hashes = f"array_sort(transform({shingles}, s -> md5(s)))"
    return [
        F.expr(NORM_FP).alias("fp_exact"),
        F.expr(f"md5(concat_ws(',', slice({hashes}, 1, 4)))").alias("fp_sketch"),
    ]


def text_stats(df: DataFrame) -> DataFrame:
    """ALL row-local text signals in ONE projection — token counts, quality
    score, corpus-filter flags, language id, fingerprints.  One scan, zero
    joins (each signal is a pure function of (doc_id, text); joining the
    individual operators would pay five scans and four doc_id shuffles for
    the same table).  Tokenizes ONCE via the layered-projection base."""
    return _tokenized(df).select(
        "doc_id",
        *_token_cols(tok="_tok"),
        *_quality_cols(with_tokens=False, tok="_tok"),
        *_flag_cols(tok="_tok"),
        *_lang_cols(tok="_tok"),
        *_fp_cols(tok="_tok"),
    )


# ---------------------------------------------------------------------------
# deterministic dataset splitting / sampling (training-pipeline staples)
# ---------------------------------------------------------------------------
# Hash-based, not RNG-based: assignment is a pure function of doc_id, so it
# is stable across retries, executors, and engines (md5 exists in both
# Spark and DuckDB → oracle-checkable), and a document never migrates
# between train and val when the corpus grows.

SPLIT_HASH = "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 10000"


def stratified_sample(
    df: DataFrame, rates_bp: dict[str, int], strata_col: str = "lang",
    default_bp: int = 0,
) -> DataFrame:
    """Per-stratum deterministic hash sampling (training-mix curation: keep
    X% of each language/source).  ``rates_bp`` maps stratum value → keep
    rate in basis points; unlisted strata get ``default_bp``.  Pure
    codegen — a CASE over the stratum feeds the same md5 hash filter as
    :func:`hash_sample`, so membership is retry- and engine-stable.

    The CASE is built from BOUND literals (``F.when``/``F.lit``), never
    f-string SQL — stratum values are data (an ``O'Brien`` source name must
    not break the expression)."""
    thr = F.lit(default_bp)
    for k, v in sorted(rates_bp.items(), reverse=True):
        thr = F.when(F.col(strata_col) == F.lit(k), F.lit(v)).otherwise(thr)
    return df.filter(F.expr(SPLIT_HASH) < thr)


# default bound on the driver-side block→offset table of the packers
MAX_PACK_BLOCKS = 100_000


def pack_shards_block_size(df: DataFrame, max_blocks: int) -> int:
    """The auto block size :func:`pack_shards` uses when none is given:
    derived from the OBSERVED doc_id range so the driver-side block→offset
    table never exceeds ``max_blocks`` rows (``ceil(id_range /
    max_blocks)``) — metadata-scale at any corpus size.  Exposed as its own
    function so tests can observe the actual choice (r3 review finding 5:
    the previous bound test recomputed the formula instead of observing
    the implementation)."""
    lo, hi = df.agg(F.min("doc_id"), F.max("doc_id")).first()
    return pack_block_size(lo, hi, max_blocks)


def pack_block_size(lo: int | None, hi: int | None, max_blocks: int) -> int:
    """``ceil((hi - lo + 1) / max_blocks)``, at least 1, for the doc_id
    range ``[lo, hi]`` (``None`` bounds: an empty input).  Callers that
    already know the range — e.g. observed on the write that produced the
    input — pass the result as ``block_size`` and skip the range scan."""
    import math

    span = int(hi) - int(lo) + 1 if lo is not None else 1
    return max(1, math.ceil(span / max_blocks))


def pack_shards(
    df: DataFrame,
    capacity_tokens: int = 4096,
    block_size: int | None = None,
    max_blocks: int = MAX_PACK_BLOCKS,
    token_col: str | None = None,
) -> DataFrame:
    """Token-aware contiguous shard packing (training-data sharding):
    documents in doc_id order fill shards of ~``capacity_tokens``;
    ``shard_id = floor(tokens_before / capacity)`` where tokens_before is
    the exact prefix sum of token counts over the id order.

    DISTRIBUTED PREFIX SUM — a single global window would serialize the
    corpus through one partition, so it runs in two passes:

    1. per-block totals: docs bucket into id-range blocks
       (``doc_id div block_size``); one hash aggregate gives each block's
       token total; the block→offset table computes exclusive prefix
       offsets driver-side and broadcasts back;
    2. in-block window: ``sum() over (partition by block order by doc_id)``
       — each block windows independently, plus its broadcast offset.

    The driver-side table is BOUNDED at any corpus size: when
    ``block_size`` is None (the default) it is derived from the observed
    doc_id range so the table never exceeds ``max_blocks`` rows
    (``ceil(id_range / max_blocks)``) — metadata-scale like the IVF
    codebook even at 10^12 documents.  An explicit ``block_size`` is
    honored as-is (the block-size-invariance tests rely on it).

    Semantics are EXACTLY the global-window form (the DuckDB oracle runs
    that form), at corpus-scale parallelism — shard assignment is a pure
    function of the id order, independent of block_size.

    ``token_col`` packs by a PRECOMPUTED count column instead of
    tokenizing a text column — e.g. real BPE subword counts from
    ``bpe.bpe_token_count`` (the whitespace tokenizer stays the default:
    it is the contract query's oracle-pinned spec).
    """
    if capacity_tokens < 1:
        raise ValueError(f"capacity_tokens must be >= 1, got {capacity_tokens}")
    pre = _prefix_tokens(df, token_col, block_size, max_blocks)
    return pre.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("_before") / capacity_tokens).cast("int").alias("shard_id"),
    )


def _prefix_tokens(
    df: DataFrame,
    token_col: str | None,
    block_size: int | None,
    max_blocks: int,
    order: str = "id",
    seed: int = 0,
    keys: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, _before): the exact exclusive prefix sum of token
    counts over the chosen document order — the distributed two-pass
    machinery shared by :func:`pack_shards` and :func:`pack_sequences`
    (see pack_shards' docstring for the design).

    ``order="id"`` sums over ascending doc_id (blocks = id ranges);
    ``order="shuffle"`` sums over a DETERMINISTIC hash permutation —
    ``key = md5-int(doc_id:seed)`` (ties broken by doc_id) — with blocks =
    equal slices of the 2^60 key space, so the same two-pass shape covers
    the shuffled order without any global sort.  ``block_size`` applies to
    the id order only (the shuffle key space is sized from ``max_blocks``
    directly; keys are uniform, so block loads balance by construction).
    ``order="keyed"`` sums over a CALLER-SUPPLIED order: ``keys`` must
    carry ``(doc_id, _key, _blk)`` with ``_blk`` nondecreasing in
    ``_key`` (so block offsets stay contiguous in the global order) and
    every input doc_id present — e.g.
    :func:`deidcm_spark.operators.balance.similarity_pack_keys`, whose
    within-cluster hash bits keep block loads balanced.  Adds ONE
    equi-join shuffle (attaching the keys) over the other orders.
    """
    count_expr = (
        F.col(token_col).cast("long") if token_col
        else F.expr(f"cast(size({TOKENS}) as bigint)")
    )
    if order == "id":
        if block_size is None:
            block_size = pack_shards_block_size(df, max_blocks)
        key_cols = [F.col("doc_id")]
        toks = df.select(
            "doc_id",
            count_expr.alias("n_tokens"),
            (F.col("doc_id") / block_size).cast("long").alias("_blk"),
        )
    elif order == "shuffle":
        key_space = 1 << 60  # md5 15-hex-char ints are uniform in [0, 2^60)
        blk_width = max(1, key_space // max_blocks)
        key = F.expr(
            f"cast(conv(substring(md5(concat(cast(doc_id as string), "
            f"':{seed}')), 1, 15), 16, 10) as bigint)"
        )
        key_cols = [F.col("_key"), F.col("doc_id")]
        toks = df.select(
            "doc_id", count_expr.alias("n_tokens"), key.alias("_key")
        ).withColumn("_blk", F.expr(f"_key div {blk_width}"))
    elif order == "keyed":
        if keys is None:
            raise ValueError("order='keyed' needs a keys DataFrame "
                             "(doc_id, _key, _blk)")
        key_cols = [F.col("_key"), F.col("doc_id")]
        toks = df.select("doc_id", count_expr.alias("n_tokens")).join(
            keys.select("doc_id", "_key", "_blk"), "doc_id"
        )
    else:
        raise ValueError(
            f"order must be 'id', 'shuffle', or 'keyed', got {order!r}"
        )
    totals = sorted(
        (r["_blk"], r["t"])
        for r in toks.groupBy("_blk").agg(F.sum("n_tokens").alias("t")).collect()
    )
    offsets, acc = [], 0
    for blk, t in totals:
        offsets.append((blk, acc))
        acc += t
    spark = df.sparkSession
    off_df = local_frame(spark, offsets, "_blk: long, _off: long")

    from pyspark.sql import Window

    w = (
        Window.partitionBy("_blk")
        .orderBy(*key_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.join(F.broadcast(off_df), "_blk")
        .withColumn(
            "_before",
            F.col("_off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .select("doc_id", "n_tokens", "_before")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    block_size: int | None = None,
    max_blocks: int = MAX_PACK_BLOCKS,
    token_col: str | None = None,
    order: str = "id",
    seed: int = 0,
    keys: DataFrame | None = None,
) -> DataFrame:
    """Fixed-length training-sequence packing (concat-and-chunk with
    document boundaries) — the final layout step of an LLM pretraining
    pipeline: documents in doc_id order are concatenated into one global
    token stream and chunked into sequences of exactly ``seq_len`` tokens;
    a document straddling a chunk boundary contributes one PIECE per
    sequence it touches.  Returns one row per (document, sequence) piece:

    ``doc_id, n_tokens (whole doc), seq_id, seq_start (piece's offset
    inside the sequence), doc_start (piece's offset inside the document),
    piece_tokens``

    so a loader can materialize any sequence by fetching its pieces
    (``groupBy(seq_id)``) and slicing each document's tokens — and the
    piece boundaries double as the attention-mask reset points
    (sample-packing semantics).

    Every sequence except the final one is exactly full:
    ``sum(piece_tokens) over seq_id == seq_len``.  Empty documents emit no
    pieces.  Shape: the shared distributed prefix sum (see
    :func:`pack_shards`) + pure arithmetic + an explode of
    ``1 + ceil(n/seq_len)``-bounded piece ranges — no extra shuffle beyond
    the prefix-sum window.

    ``token_col`` packs by a precomputed count column (e.g. real BPE
    counts from ``bpe.bpe_token_count``) instead of the whitespace
    tokenizer — at that point downstream slicing must use the same
    tokenizer that produced the counts.

    ``order="shuffle"`` packs a DETERMINISTIC hash permutation of the
    corpus instead of ingest order (``seed`` selects the permutation) —
    pretraining wants neighboring documents decorrelated, and a
    hash-keyed order gets that without a global sort: the prefix-sum
    blocks become equal slices of the key space (see
    :func:`_prefix_tokens`).  Same machinery, same invariants; retries
    and re-runs reproduce the identical layout (no RNG).

    ``order="keyed"`` packs a caller-supplied order (``keys`` from e.g.
    :func:`deidcm_spark.operators.balance.similarity_pack_keys`) — the
    in-context-pretraining layout (Shi et al., arXiv:2310.10638):
    topically-related documents land adjacent in the stream, so they
    share training sequences.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    pre = _prefix_tokens(
        df, token_col, block_size, max_blocks, order, seed, keys
    )
    pieces = (
        # sequence(a, b) DESCENDS when b < a, so empty docs are filtered
        pre.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "_before",
            F.explode(
                F.expr(
                    f"sequence(_before div {seq_len}, "
                    f"(_before + n_tokens - 1) div {seq_len})"
                )
            ).alias("seq_id"),
        )
        .withColumn("_piece_gstart", F.expr(f"greatest(_before, seq_id * {seq_len})"))
        .withColumn(
            "_piece_gend",
            F.expr(f"least(_before + n_tokens, seq_id * {seq_len} + {seq_len})"),
        )
    )
    return pieces.select(
        "doc_id",
        "n_tokens",
        "seq_id",
        F.expr(f"cast(_piece_gstart - seq_id * {seq_len} as int)").alias("seq_start"),
        F.expr("cast(_piece_gstart - _before as bigint)").alias("doc_start"),
        F.expr("cast(_piece_gend - _piece_gstart as int)").alias("piece_tokens"),
    )


def deterministic_split(df: DataFrame, val_bp: int = 1000) -> DataFrame:
    """Assign each document to train/val by doc_id hash.  ``val_bp`` is in
    BASIS POINTS (1/10000): val_bp=1000 → 10% of documents land in val."""
    return df.select(
        "doc_id",
        F.expr(
            f"case when {SPLIT_HASH} < {val_bp} then 'val' else 'train' end"
        ).alias("split"),
    )


def hash_sample(df: DataFrame, keep_bp: int = 1000) -> DataFrame:
    """Deterministic corpus sample: keep documents whose doc_id hash falls
    under the threshold — the distributed, reproducible analogue of
    ``df.sample(fraction)`` (which is per-partition RNG and not stable
    under repartitioning).  ``keep_bp`` is in BASIS POINTS (1/10000):
    keep_bp=2500 → 25% kept."""
    return df.filter(F.expr(f"{SPLIT_HASH} < {keep_bp}"))


def cap_per_source(
    df: DataFrame, max_docs: int, source_col: str = "source",
    n_salts: int = 1,
) -> DataFrame:
    """Per-source document cap (domain balancing — the C4/RefinedWeb-style
    guard against one domain dominating the training mix): keep at most
    ``max_docs`` documents per source, chosen by the SAME md5(doc_id)
    order every sampling operator here uses, so the kept subset is a
    deterministic, repartition-stable function of the corpus.

    SKEW: a window partitioned by the source alone fully SORTS a hot
    source in one task — at web scale one domain can be 10^9 rows.
    ``n_salts > 1`` runs the standard two-phase top-N: a local window per
    ``(source, xxhash64(doc_id) % n_salts)`` keeps each salt's first
    ``max_docs`` (top-N by a fixed order is decomposable — every global
    survivor survives its salt), so the final per-source window sorts at
    most ``max_docs * n_salts`` rows.  The result is IDENTICAL for any
    ``n_salts`` (asserted in tests); pick ``n_salts`` so
    ``hot_source_rows / n_salts`` fits one task."""
    from pyspark.sql import Window

    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    if n_salts > 1:
        w1 = Window.partitionBy(
            source_col, F.expr(f"pmod(xxhash64(doc_id), {n_salts})")
        ).orderBy(*order)
        df = (
            df.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= max_docs)
            .drop("_rn1")
        )
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_docs)
        .drop("_rn")
    )


def corpus_report(
    df: DataFrame,
    by: list[str] | None = None,
    with_sketches: bool = False,
    hll_p: int = 12,
    token_cap: int = 65536,
) -> DataFrame:
    """Dataset-card aggregates per corpus slice (default: per ``source`` ×
    ``lang``): document/token volumes, mean quality signals, and the
    :func:`quality_gate` keep rate — the summary table a curation run
    publishes alongside the data.

    ``n_docs, kept_docs, keep_rate, total_tokens, avg_tokens,
    avg_quality, avg_stopword_ratio`` per group.  Cost: the gate's single
    scan + one doc_id equi-join to attach the slice keys + one hash
    aggregation — report cardinality is |slices|, never corpus-scale.

    ``with_sketches=True`` adds the bounded-sketch columns: a per-slice
    DISTINCT-text estimate (grouped HLL, ``sketch.hll_build`` — an exact
    ``countDistinct`` per slice would shuffle the corpus keyed by text;
    the registers are ≤ 2^p rows per slice) and approximate p50/p90
    token counts (grouped CDF sketch over ``[0, token_cap]``, reported
    as the bracketing bucket's midpoint).  One extra scan for each
    sketch; all joins are |slices|-sized."""
    by = list(by) if by is not None else ["source", "lang"]
    gate = quality_gate(df.select("doc_id", "text"))
    dims = df.select("doc_id", *by)
    base = gate.join(dims, "doc_id")
    rep = (
        base.groupBy(*by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("kept_docs"),
            F.round(F.avg(F.col("keep").cast("double")), 4).alias("keep_rate"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        )
    )
    if not with_sketches:
        return rep
    from deidcm_spark.operators.quantile import cdf_build, cdf_quantile
    from deidcm_spark.operators.sketch import hll_build, hll_estimate

    est = hll_estimate(
        hll_build(df.select(*by, "text"), "text", hll_p, group_cols=by),
        hll_p,
        group_cols=by,
    ).select(*by, F.round("estimate", 1).alias("distinct_texts_est"))
    lo, hi, m = 0.0, float(token_cap), 4096
    qrows = cdf_quantile(
        cdf_build(
            base.select(*by, F.col("n_tokens").cast("double").alias("_nt")),
            "_nt", lo, hi, m, group_cols=by,
        ),
        [0.5, 0.9], lo, hi, m, group_cols=by,
    ).withColumn("_mid", F.round((F.col("value_lo") + F.col("value_hi")) / 2, 1))
    p50 = qrows.filter("q = 0.5").select(*by, F.col("_mid").alias("p50_tokens"))
    p90 = qrows.filter("q = 0.9").select(*by, F.col("_mid").alias("p90_tokens"))
    return rep.join(est, by, "left").join(p50, by, "left").join(p90, by, "left")


# pre-tokenization text hygiene (ftfy-lite): pure-codegen steps first,
# NFC as the one genuinely non-SQL step (unicodedata via a pandas UDF)
_CLEAN_STEPS: list[tuple[str, str]] = [
    # C0/C1 control chars except \t \n (kept: they are layout)
    ("[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]", " "),
    # unicode spaces (NBSP, en/em/thin/ideographic, BOM-as-ZWNBSP) -> ASCII
    ("[\\u00a0\\u2000-\\u200a\\u202f\\u205f\\u3000\\ufeff]", " "),
    # zero-width chars vanish
    ("[\\u200b-\\u200d\\u2060]", ""),
    # curly quotes/dashes -> ASCII (tokenizer + dedup fingerprints agree
    # across typographic variants of the same text)
    ("[\\u2018\\u2019\\u201a\\u201b]", "'"),
    ("[\\u201c\\u201d\\u201e\\u201f]", "\""),
    ("[\\u2012\\u2013\\u2014\\u2015]", "-"),
    ("\\u2026", "..."),
    # collapse space runs (not \n: line structure feeds line_dedup)
    ("[ \\t]+", " "),
]


def normalize_text_col(col: Column) -> Column:
    """The codegen cleanup chain as a column expression."""
    out = col
    for pat, rep in _CLEAN_STEPS:
        out = F.regexp_replace(out, pat, rep)
    # trim ALL whitespace at the ends (F.trim strips spaces only — a
    # trailing newline would survive it)
    return F.regexp_replace(out, "^\\s+|\\s+$", "")


def normalize_text(df: DataFrame, nfc: bool = False) -> DataFrame:
    """Pre-tokenization text hygiene over ``(doc_id, text)`` →
    ``(doc_id, text)`` with: control characters and exotic unicode spaces
    normalized, zero-width characters removed, typographic quotes/dashes/
    ellipsis mapped to ASCII, space runs collapsed (newlines preserved —
    line structure feeds :func:`~deidcm_spark.operators.spandedup.line_dedup`),
    ends trimmed.  All whole-stage-codegen ``regexp_replace`` — zero
    Python — so the cleanup costs one projection at any corpus size.

    ``nfc=True`` additionally applies Unicode NFC composition — the one
    step SQL cannot express — as an Arrow-batched ``mapInPandas`` stage
    AFTER the codegen chain (zero shuffle; the Python hop is the slow
    path and is opt-in).

    Normalizing BEFORE dedup/fingerprinting makes typographic variants of
    the same sentence collapse to one fingerprint (NORM_FP already folds
    case and whitespace; this folds the punctuation variants too).
    """
    cleaned = df.withColumn("text", normalize_text_col(F.col("text")))
    if not nfc:
        return cleaned

    def _nfc_batches(batches):
        import unicodedata

        for pdf in batches:
            pdf["text"] = pdf["text"].map(
                lambda t: unicodedata.normalize("NFC", t)
                if t is not None
                else None
            )
            yield pdf

    return cleaned.mapInPandas(_nfc_batches, cleaned.schema)


def compression_signals(df: DataFrame, level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the classic redundancy
    quality signal (template spam and keyword stuffing compress far
    below prose; near-random noise barely compresses at all).  Several
    public curation pipelines gate on it because it catches repetition
    the n-gram fractions miss (long-period repeats beyond the 2/3-gram
    horizon).

    ``(doc_id, n_bytes, n_compressed, compression_ratio)`` with ratio =
    compressed/raw (4 dp), NULL for empty text.  One Arrow-batched
    ``mapInPandas`` projection, zero shuffles — zlib is the one step SQL
    cannot express (same declared seam as NFC normalization).
    Deterministic for a fixed zlib level; the oracle in
    tests/test_training_ops.py is the same zlib, byte for byte."""
    if not 1 <= level <= 9:
        raise ValueError(f"zlib level must be in [1, 9], got {level}")
    out_schema = (
        "doc_id long, n_bytes int, n_compressed int, compression_ratio double"
    )

    def _batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = [
                None if t is None else t.encode("utf-8", "replace")
                for t in pdf["text"]
            ]
            n_bytes = [None if b is None else len(b) for b in raw]
            n_comp = [
                None if b is None or not b else len(zlib.compress(b, level))
                for b in raw
            ]
            ratio = [
                None if nb in (None, 0) else round(nc / nb, 4)
                for nb, nc in zip(n_bytes, n_comp)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(n_bytes, dtype="Int32"),
                    "n_compressed": pd.array(n_comp, dtype="Int32"),
                    "compression_ratio": pd.array(ratio, dtype="float64"),
                }
            )

    return df.select("doc_id", "text").mapInPandas(_batches, out_schema)
