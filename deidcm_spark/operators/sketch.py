"""Mergeable distributed sketches: HyperLogLog cardinality and Count-Min
frequency, each represented AS A SPARK TABLE (the ``bloom.py`` pattern).

A 100 TB pipeline run continuously needs corpus statistics it cannot
afford to recount per shard: "how many DISTINCT fingerprints / URLs /
tokens has the whole corpus seen?" (HLL) and "roughly how often does this
token / domain / n-gram occur?" (CMS).  Both sketches are linear
structures — the sketch of a union is the element-wise merge of the
sketches — so the incremental story is: build per shard with ONE hash
aggregation, persist as parquet, merge by re-aggregating, query without
touching the corpus again.

Representations (bounded at ANY corpus size):

* HLL: ``(register_idx int, max_rho int)`` — ≤ ``2^p`` rows (p=12 →
  4096 rows).  ``max`` is commutative/associative → map-side combine;
  merge = re-aggregate ``max``.
* CMS: ``(row_idx int, col_idx int, cnt bigint)`` — ≤ ``depth × width``
  rows.  ``sum`` is algebraic → map-side combine; merge = re-aggregate
  ``sum``.  Point queries join k=depth positions and take the min
  (classic one-sided overestimate guarantee: est ≥ true, with
  ε = e/width, δ = e^-depth).

Shared spec with the pure-Python test oracle (tests/test_sketch.py):

* portable hash = the repo-wide md5-prefix integer,
  ``h = int(md5(v)[:15 hex], 16)`` (60 bits); ``fast`` swaps in
  ``xxhash64`` (JVM integer mix, not oracle-portable — cross-checked by
  the merge ≡ build-over-union algebra instead);
* HLL (p ≤ 16): ``register_idx = h >> (60 - p)``;
  ``rest = h mod 2^(60-p)``; ``rho = (60 - p) - bit_length(rest) + 1``
  (``bit_length(0) = 0``, so an all-zero suffix gives the max rho).
  bit_length is computed EXACTLY via ``length(conv(rest, 10, 2))`` —
  never ``floor(log2(...))``, whose double rounding can tip over at
  register boundaries (log2(2^48 - 1) is within one ulp of 48.0);
* HLL estimate: ``alpha_m · m² / Σ 2^-rho`` over all m registers
  (absent rows count as rho 0), with the standard small-range linear
  counting correction ``m · ln(m / V)`` when ``E ≤ 2.5m`` and V > 0
  zero registers remain.  The 64-bit large-range correction is
  deliberately omitted (relevant only past ~2^57 distinct values);
* CMS position for row j: ``pos_j = int(md5(j || ':' || v)[:15], 16)
  mod width`` (portable) / ``xxhash64(v, j) pmod width`` (fast).

Standard references: Flajolet et al. 2007 (HyperLogLog), Cormode &
Muthukrishnan 2005 (Count-Min).  The reference repo has no sketch lane;
this is part of the training-data operator family the brief mandates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from deidcm_spark.schema import local_frame

HLL_HASH_BITS = 60  # 15 md5 hex digits — the repo-wide portable integer


def _hash_expr(value_sql: str, hash_impl: str) -> str:
    if hash_impl == "portable":
        return (
            f"cast(conv(substring(md5(cast(({value_sql}) as string)), 1, 15),"
            f" 16, 10) as bigint)"
        )
    if hash_impl == "fast":
        return f"xxhash64(cast(({value_sql}) as string))"
    raise ValueError(f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}")


def _check_hll_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")


def hll_build(
    df: DataFrame,
    value_col: str = "text",
    p: int = 12,
    hash_impl: str = "portable",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """value column → HLL register table ``(register_idx, max_rho)``.

    ONE hash aggregation over the scan; the ``max`` partials combine
    map-side, so the shuffle carries at most ``2^p`` rows per map task
    regardless of corpus size.  NULL values are skipped (a NULL is not a
    distinct value).  ``fast`` uses the full signed xxhash64 range folded
    to 60 bits so rho arithmetic is shared.

    ``group_cols`` keys the registers per group (``(…groups,
    register_idx, max_rho)``, ≤ 2^p rows PER GROUP — the dataset-card
    shape: distinct URLs/fingerprints per source×lang in one pass,
    identical to building each group's sketch separately)."""
    _check_hll_p(p)
    g = list(group_cols or [])
    rest_bits = HLL_HASH_BITS - p
    h = _hash_expr(value_col, hash_impl)
    if hash_impl == "fast":
        # fold the signed 64-bit hash into the same 60-bit domain
        h = f"pmod({h}, {1 << HLL_HASH_BITS})"
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*g, F.expr(h).alias("_h"))
        .select(
            *g,
            F.expr(f"cast(_h div {1 << rest_bits} as int)").alias("register_idx"),
            # bit_length via conv-to-binary string length: exact integer
            # logic (conv emits no leading zeros; see module docstring for
            # why floor(log2()) is unsafe here)
            F.expr(
                f"cast({rest_bits} - (CASE WHEN _h % {1 << rest_bits} = 0 "
                f"THEN 0 ELSE length(conv(_h % {1 << rest_bits}, 10, 2)) "
                f"END) + 1 as int)"
            ).alias("_rho"),
        )
        .groupBy(*g, "register_idx")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_merge(
    sketches: list[DataFrame], group_cols: list[str] | None = None
) -> DataFrame:
    """Element-wise merge: the HLL of a UNION of corpora.  Linearity is
    the whole point — per-shard sketches persist as tiny parquet tables
    and the corpus-wide cardinality never rescans the corpus.  Pass the
    same ``group_cols`` the sketches were built with."""
    if not sketches:
        raise ValueError("need at least one sketch")
    g = list(group_cols or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*g, "register_idx").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(
    sketch: DataFrame, p: int = 12, group_cols: list[str] | None = None
) -> DataFrame:
    """Register table → ``(estimate double, n_zero_registers int)`` —
    one row, or one row per group with ``group_cols``.

    Fully distributed: one aggregation collapses the ≤ 2^p rows (per
    group); absent registers contribute ``2^0 = 1`` to the harmonic sum
    and count as zero registers (linear-counting correction applies when
    E ≤ 2.5m and any remain)."""
    _check_hll_p(p)
    g = list(group_cols or [])
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.673
    aggs = [
        # empty sketch (0 rows): sum is NULL -> coalesce so the empty
        # corpus estimates 0 via linear counting, not NULL
        F.coalesce(
            F.sum(F.expr("power(0.5, max_rho)")), F.lit(0.0)
        ).alias("_present_sum"),
        F.count("*").alias("_n_present"),
    ]
    agg = sketch.groupBy(*g).agg(*aggs) if g else sketch.agg(*aggs)
    raw = f"{alpha} * {m} * {m} / (_present_sum + ({m} - _n_present))"
    v = f"({m} - _n_present)"
    return agg.select(
        *g,
        F.expr(
            f"CASE WHEN {raw} <= {2.5 * m} AND {v} > 0 "
            f"THEN {m} * ln({m} / cast({v} as double)) "
            f"ELSE {raw} END"
        ).alias("estimate"),
        F.expr(f"cast({v} as int)").alias("n_zero_registers"),
    )


def hll_estimate_value(sketch: DataFrame, p: int = 12) -> float:
    """Convenience: the scalar estimate (one-row collect of the
    one-row aggregate — driver receives 16 bytes, never registers)."""
    return float(hll_estimate(sketch, p).collect()[0]["estimate"])


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _cms_pos_expr(value_sql: str, j: int, width: int, hash_impl: str) -> str:
    if hash_impl == "portable":
        return (
            f"cast(conv(substring(md5(concat('{j}', ':', "
            f"cast(({value_sql}) as string))), 1, 15), 16, 10) as bigint) "
            f"% {width}"
        )
    if hash_impl == "fast":
        return f"pmod(xxhash64(cast(({value_sql}) as string), {j}), {width})"
    raise ValueError(f"hash_impl must be 'portable' or 'fast', got {hash_impl!r}")


def _check_cms(width: int, depth: int) -> None:
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2 and depth >= 1, got {width}x{depth}")


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 16384,
    depth: int = 4,
    weight_col: str | None = None,
    hash_impl: str = "portable",
) -> DataFrame:
    """value column → CMS counter table ``(row_idx, col_idx, cnt)``.

    One in-row explode to ``depth`` positions then ONE hash aggregation
    (sum combines map-side); only non-zero counters are stored, so the
    table is ≤ ``depth × width`` rows at any corpus size.  NULLs are
    skipped; ``weight_col`` aggregates weights instead of occurrences
    (e.g. token counts per document)."""
    _check_cms(width, depth)
    w = f"cast({weight_col} as bigint)" if weight_col else "cast(1 as bigint)"
    rows = F.expr(
        "array("
        + ", ".join(
            f"struct(cast({j} as int) as row_idx, "
            f"cast({_cms_pos_expr(value_col, j, width, hash_impl)} as int) "
            f"as col_idx, {w} as w)"
            for j in range(depth)
        )
        + ")"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(rows).alias("e"))
        .select("e.row_idx", "e.col_idx", "e.w")
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(sketches: list[DataFrame]) -> DataFrame:
    """Element-wise sum: the CMS of the concatenated corpora."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row_idx", "col_idx").agg(F.sum("cnt").alias("cnt"))


def heavy_hitters(
    df: DataFrame,
    min_count: int,
    n: int = 3,
    width: int = 16384,
    depth: int = 4,
    hash_impl: str = "portable",
    sketch: DataFrame | None = None,
    unit: str = "word",
) -> DataFrame:
    """EXACT corpus-wide heavy hitters — every word ``n``-gram occurring
    at least ``min_count`` times, with its exact count — via a CMS gate
    (boilerplate/template mining: the output is a blocklist candidate
    set for line/passage dedup).

    The naive ``explode → groupBy(gram) → filter`` shuffles the DISTINCT
    grams per map partition — at 100 TB that is dominated by the
    singleton tail (virtually every 3-gram is rare).  Here the gate runs
    BEFORE the shuffle: each gram occurrence probes the CMS with
    ``depth`` map-side broadcast joins (the sketch side is ≤ depth×width
    rows BY CONSTRUCTION — the forced broadcast is size-bounded, unlike
    the unbounded prefix the token-budget lane learned not to hint) and
    only grams whose estimate clears ``min_count`` reach the exact
    count.  CMS never underestimates, so the gate has ZERO false
    negatives; the exact aggregation removes the (rare, collision-born)
    false positives — the result is IDENTICAL to the naive form, with
    the shuffle carrying only the heavy candidates.

    ``sketch``: pass a pre-built (typically parquet-persisted)
    ``cms_build`` table over the same grams/width/depth/hash to skip the
    build pass; otherwise one is built here and its ``min_count``-pruned
    counters are COLLECTED into a local relation (bounded: ≤ depth×width
    rows by construction) — one build action inside this call, no
    ``persist`` left behind in the session cache (r4 ADVICE: the old
    persist-and-never-unpersist leaked cached blocks per call).  Two
    corpus scans total — sketch + gated count.

    ``unit="line"`` mines whole LINES instead of word n-grams (``n`` is
    ignored), with ``line_dedup``'s split spec — ``split(text, '\\n')``,
    exact content, blank lines excluded — so the output feeds a
    boilerplate-line blocklist directly."""
    if unit not in ("word", "line"):
        raise ValueError(f"unit must be 'word' or 'line', got {unit!r}")
    if unit == "word" and n not in (1, 2, 3):
        raise ValueError(f"n must be 1, 2, or 3, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from deidcm_spark.operators.textops import (
        TOKENS,
        shingles_all_expr,
        twograms_all_expr,
    )

    if unit == "line":
        # two backslashes in the Spark literal (dialect gotcha: string
        # literals eat one level) -> regex \n is not needed, plain char
        grams_expr = (
            "filter(split(coalesce(text, ''), '\\n'), x -> length(trim(x)) > 0)"
        )
    else:
        grams_expr = {1: TOKENS, 2: twograms_all_expr(), 3: shingles_all_expr()}[n]
    grams = df.select(F.explode(F.expr(grams_expr)).alias("gram"))
    # counters below min_count can never admit a gram (min over positions):
    # pruning them first shrinks every broadcast side
    if sketch is None:
        built = cms_build(grams, "gram", width, depth, hash_impl=hash_impl)
        hot = local_frame(
            df.sparkSession,
            built.filter(F.col("cnt") >= min_count).collect(),
            "row_idx int, col_idx int, cnt bigint",
        )
    else:
        hot = sketch.filter(F.col("cnt") >= min_count)
    probe = grams
    est_terms = []
    for j in range(depth):
        side = hot.filter(F.col("row_idx") == j).select(
            F.col("col_idx").alias(f"_c{j}"), F.col("cnt").alias(f"_n{j}")
        )
        pos = _cms_pos_expr("gram", j, width, hash_impl)
        probe = probe.withColumn(f"_p{j}", F.expr(f"cast({pos} as int)")).join(
            F.broadcast(side), F.col(f"_p{j}") == F.col(f"_c{j}"), "left"
        )
        est_terms.append(f"coalesce(_n{j}, cast(0 as bigint))")
    gated = probe.filter(
        F.expr(f"least({', '.join(est_terms)}) >= {int(min_count)}")
    ).select("gram")
    return (
        gated.groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )


def cms_query(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    width: int = 16384,
    depth: int = 4,
    hash_impl: str = "portable",
) -> DataFrame:
    """items → ``(value, est)`` frequency estimates.

    Each item probes its ``depth`` counters via ONE equi-join on
    (row_idx, col_idx) — the sketch side is ≤ depth×width rows, so AQE
    broadcasts it at practical sizes — then ``min`` per item gives the
    classic overestimate bound (never under).  A position whose counter
    row is absent means count 0."""
    _check_cms(width, depth)
    probes = items.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("value"),
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct(cast({j} as int) as row_idx, "
                    f"cast({_cms_pos_expr(value_col, j, width, hash_impl)} "
                    f"as int) as col_idx)"
                    for j in range(depth)
                )
                + ")"
            )
        ).alias("e"),
    ).select("value", "e.row_idx", "e.col_idx")
    joined = probes.join(sketch, ["row_idx", "col_idx"], "left")
    return joined.groupBy("value").agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("est")
    )
