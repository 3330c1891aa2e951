"""Plan-quality assertions: the physical plans we designed for are the plans
Catalyst actually produces (pushdown, pruning, single shuffle, broadcast),
plus evidence that the salted repartition defeats document-size skew."""

import re

import pytest
from pyspark.sql import functions as F

from deidcm_spark import corpus
from deidcm_spark.operators.deidentify import deidentify_attributes


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter("l_quantity > 20")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,20" in plan


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    # ReadSchema must carry only the projected column
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_deidentify_attributes_is_one_narrow_stage(spark):
    """The deid operator is row-local: over an unpartitioned frame it plans
    no exchange (the salted bucket repartition belongs to the bucket-commit
    job) and exactly one vectorized Arrow kernel."""
    docs = corpus.synth_documents(spark, 50, seed=1)
    plan = _plan(deidentify_attributes(docs, "1.2.3", "s"))
    assert plan.count("Exchange") == 0, plan
    assert plan.count("MapInArrow") == 1, plan


def test_broadcast_join_for_small_dim(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_text_ops_stay_jvm_side(spark):
    """Text operators must not fall back to Python eval nodes.  (Higher-order
    functions are JVM interpreted-expression eval — not codegen'd — which is
    still one Project over the scan, no Python worker round-trip.)"""
    from deidcm_spark.operators.textops import quality_score

    df = quality_score(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_whole_stage_codegen_on_agg_query(spark):
    import __spark_entry__ as e

    plan = _plan(e.q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") == 2  # partial (map-side) + final
    assert "partial_sum" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_salted_repartition_balances_skewed_corpus(spark):
    """Hot documents (20x spans) must not pile into few partitions: after
    repartition(xxhash64(doc_id, salt)), per-partition SPAN counts stay within
    a sane factor of the mean."""
    docs = corpus.synth_documents(spark, 400, seed=7, skew=0.1, tags_per_doc=20)
    parts = 16
    repart = docs.repartition(parts, F.xxhash64("doc_id", F.lit("salt")))
    sizes = (
        repart.select(F.spark_partition_id().alias("pid"), F.size("spans").alias("n"))
        .groupBy("pid")
        .agg(F.sum("n").alias("spans"))
        .collect()
    )
    counts = [r["spans"] for r in sizes]
    assert len(counts) == parts
    mean = sum(counts) / len(counts)
    assert max(counts) < 3.0 * mean, f"partition skew too high: {sorted(counts)}"


def test_aqe_skew_join_split(spark):
    """AQE must split a skewed shuffle-join partition (north rule: skew
    handled explicitly — this is the runtime half; salting is the static
    half, test_deid_pipeline_single_exchange)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) > 0  # execute THIS df → AQE finalizes its plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle(spark):
    """AQE shrinks over-partitioned shuffles at runtime (the 100 TB story:
    shuffle_partitions is sized for the big corpus; small stages coalesce)."""
    df = spark.range(0, 10_000).groupBy((F.col("id") % 97).alias("g")).count()
    assert len(df.collect()) == 97  # execute THIS df → final adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_bucketed_join_no_exchange(spark):
    """Co-located join: both sides bucketed on the key → sort-merge join
    with ZERO Exchange (the Iceberg bucket(N, key) analogue)."""
    from deidcm_spark.sources import write_bucketed

    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(c, "bt_customer", "c_custkey", 8)
        write_bucketed(o, "bt_orders", "o_custkey", 8)
        j = spark.table("bt_customer").join(
            spark.table("bt_orders"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bt_customer")
        spark.sql("DROP TABLE IF EXISTS bt_orders")


def test_register_bucketed_winner_agg_no_exchange(spark, tmp_path):
    """Cross-session bucketed re-attach (sources.register_bucketed): a
    table written bucketed-by-fp and re-registered from its FILES alone
    (the in-memory catalog is gone in a fresh job) still gives the
    dedup winner aggregation a zero-Exchange plan, and the results are
    identical to the plain-parquet (one-Exchange) shape.  This is the
    plan the bench_scaling dedup-winner lane measures."""
    from deidcm_spark.sources import register_bucketed

    loc = str(tmp_path / "fp_bucketed")
    plain = str(tmp_path / "fp_plain")
    df = spark.range(20000).selectExpr(
        "xxhash64(cast(id % 997 as string)) as fp", "id as doc_id"
    )
    df.write.mode("overwrite").parquet(plain)
    (
        spark.read.parquet(plain).write.mode("overwrite")
        .bucketBy(8, "fp").sortBy("fp")
        .option("path", loc).saveAsTable("t_fp_seed")
    )
    spark.sql("DROP TABLE IF EXISTS t_fp_seed")  # simulate a fresh session
    try:
        register_bucketed(
            spark, "t_fp_reattached", loc, "fp BIGINT, doc_id BIGINT",
            "fp", 8,
        )

        def winners(d):
            return d.groupBy("fp").agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count("*").alias("n_dupes"),
            )

        b = winners(spark.table("t_fp_reattached"))
        got_b = {r["fp"]: (r["keep_doc_id"], r["n_dupes"]) for r in b.collect()}
        got_p = {
            r["fp"]: (r["keep_doc_id"], r["n_dupes"])
            for r in winners(spark.read.parquet(plain)).collect()
        }
        assert got_b == got_p and len(got_b) == 997
        plan = b._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan
        # the plain layout DOES pay the exchange — the contrast is real
        pplan = winners(
            spark.read.parquet(plain)
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in pplan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fp_reattached")
        spark.sql("DROP TABLE IF EXISTS t_fp_seed")


def _physical_nodes(plan):
    """Every node of a physical plan, the plan itself first."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _physical_nodes(kids.apply(i))


def test_redact_media_plan_gates_in_one_aggregate(spark):
    """The redaction gates are one aggregate over the boxes: no Window,
    exactly one hash Exchange (the boxes' groupBy), and the payload side
    of the join — the pixel bytes — is never shuffled."""
    from deidcm_spark.operators.media import redact_media

    payloads, boxes = corpus.synth_media(spark, 40, seed=5, media_rate=0.5)
    df = redact_media(payloads, boxes, margin=8)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "ObjectHashAggregate" in plan and "MapInPandas" in plan
    root = df._jdf.queryExecution().executedPlan().executedPlan()  # under AQE
    (join,) = [n for n in _physical_nodes(root) if "Join" in n.nodeName()]
    payload_side = join.children().apply(0)
    assert "pixels" in payload_side.output().toString()
    assert not any("Exchange" in n.nodeName() for n in _physical_nodes(payload_side))


def _shuffled_partial_keys(df):
    """Run ``df``, then list the keys of every hash Exchange in its final
    adaptive plan that sits directly on a partial aggregate."""
    df.collect()  # execute THIS df so AQE finalizes its plan
    final = _plan(df).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    return [
        re.search(r"hashpartitioning\((.*)\)", a).group(1)
        for a, b in zip(lines, lines[1:])
        if "Exchange hashpartitioning" in a and "partial_" in b
    ]


def test_dedup_winners_one_aggregate_per_fingerprint(spark):
    """Each dedup winner is ONE groupBy(fp) aggregate: exactly one shuffle
    keyed on the fingerprint alone, with the partial aggregate below it —
    the map-side combine that bounds a hot key to one row per map task —
    and no salt column anywhere in the plan."""
    from deidcm_spark.operators.linkgraph import url_dedup
    from deidcm_spark.operators.spandedup import line_dedup, substring_dedup

    docs = spark.range(0, 60, numPartitions=4).selectExpr(
        "id as doc_id",
        "concat('hot line', chr(10), 'doc ', cast(id as string), chr(10), "
        "'one two three four five six seven eight') as text",
    )
    urls = docs.selectExpr("doc_id", "'https://www.trap.example/p' as url")
    for df in (
        line_dedup(docs),
        substring_dedup(docs, window=4),
        url_dedup(urls),
    ):
        keys = _shuffled_partial_keys(df)
        assert len(keys) == 1 and re.fullmatch(r"fp#\d+, \d+", keys[0]), keys
        assert "_salt" not in _plan(df)
