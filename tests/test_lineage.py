"""Failure-injection + resume tests for the lineage-checkpointed job."""

import pytest
from pyspark.sql import functions as F

from deidcm_spark import corpus
from deidcm_spark.lineage import (
    committed_buckets,
    read_lineage,
    read_output,
    run_deid_job,
)
from deidcm_spark.operators.deidentify import deidentify_attributes

ORG_ROOT = "9.9.9.9.9"
SALT = "lineage_salt"
N_BUCKETS = 8


def _docs(spark, n=150):
    return corpus.synth_documents(spark, n, seed=21, media_rate=0.1, skew=0.05)


def _snapshot(df):
    rows = [r.asDict(recursive=True) for r in df.select("doc_id", "spans").collect()]
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"])
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        for r in rows
    }


def test_crash_and_resume_produces_single_shot_result(spark, tmp_path):
    docs = _docs(spark)
    out_crash = str(tmp_path / "crash")
    out_clean = str(tmp_path / "clean")

    # attempt 1 "crashes" after 3 buckets
    s1 = run_deid_job(spark, docs, out_crash, ORG_ROOT, SALT, N_BUCKETS, "r1",
                      max_buckets_this_attempt=3)
    assert s1["processed"] == 3
    assert committed_buckets(spark, out_crash, "r1") == {0, 1, 2}

    # resume completes only the remaining buckets
    s2 = run_deid_job(spark, docs, out_crash, ORG_ROOT, SALT, N_BUCKETS, "r1")
    assert s2["committed_before"] == 3
    assert s2["processed"] == N_BUCKETS - 3

    # single-shot reference run
    run_deid_job(spark, docs, out_clean, ORG_ROOT, SALT, N_BUCKETS, "rX")

    got = _snapshot(read_output(spark, out_crash))
    want = _snapshot(read_output(spark, out_clean))
    assert got == want
    assert len(got) == docs.count()  # no duplicates, no losses


def test_rerun_is_noop_after_completion(spark, tmp_path):
    docs = _docs(spark, 60)
    out = str(tmp_path / "noop")
    run_deid_job(spark, docs, out, ORG_ROOT, SALT, N_BUCKETS, "r1")
    s = run_deid_job(spark, docs, out, ORG_ROOT, SALT, N_BUCKETS, "r1")
    assert s["processed"] == 0 and s["committed_before"] == N_BUCKETS


def test_lineage_metrics_consistent(spark, tmp_path):
    docs = _docs(spark, 100)
    out = str(tmp_path / "metrics")
    run_deid_job(spark, docs, out, ORG_ROOT, SALT, N_BUCKETS, "r1")
    lineage = read_lineage(spark, out)
    assert lineage is not None
    agg = lineage.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_spans_out").alias("spans_out"),
        F.sum("n_removed").alias("removed"),
    ).collect()[0]
    assert agg["docs"] == 100
    output = read_output(spark, out)
    assert agg["spans_out"] == output.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert agg["removed"] > 0
    # every bucket committed exactly once
    per_bucket = lineage.groupBy("bucket").count().collect()
    assert len(per_bucket) == N_BUCKETS
    assert all(r["count"] == 1 for r in per_bucket)


def test_output_equals_direct_pipeline(spark, tmp_path):
    docs = _docs(spark, 80)
    out = str(tmp_path / "direct")
    run_deid_job(spark, docs, out, ORG_ROOT, SALT, N_BUCKETS, "r1")
    direct = deidentify_attributes(docs, ORG_ROOT, SALT)
    assert _snapshot(read_output(spark, out)) == _snapshot(direct)


def test_bucketed_input_zero_exchange_same_result(spark, tmp_path):
    """prepare_bucketed_corpus + input_bucketed=True: the deid stage plan
    has NO Exchange (the span payload never shuffles), and the committed
    output equals the shuffled path byte for byte."""
    from deidcm_spark.lineage import bucket_expr, prepare_bucketed_corpus
    from deidcm_spark.operators.deidentify import deidentify_attributes as deid

    docs = _docs(spark, 120)
    prepare_bucketed_corpus(docs, "bt_deid_corpus", SALT, N_BUCKETS)
    bucketed = spark.table("bt_deid_corpus")

    # plan shape: filter + mapInArrow over the bucketed scan, zero Exchange
    # (CLAUDE.md AQE rule: execute the SAME DataFrame before reading
    # executedPlan, else the assertion runs on the non-final plan)
    todo = bucketed.filter(F.col("bucket").isin(list(range(N_BUCKETS))))
    out = deid(todo, ORG_ROOT, SALT, with_metrics=True)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan

    # end-to-end: bucketed job == shuffled job
    d1 = str(tmp_path / "bucketed_out")
    d2 = str(tmp_path / "shuffled_out")
    s1 = run_deid_job(spark, bucketed, d1, ORG_ROOT, SALT, n_buckets=N_BUCKETS,
                      input_bucketed=True)
    s2 = run_deid_job(spark, docs, d2, ORG_ROOT, SALT, n_buckets=N_BUCKETS)
    assert s1["processed"] == s2["processed"] == N_BUCKETS
    assert _snapshot(read_output(spark, d1)) == _snapshot(read_output(spark, d2))
    # the stored bucket column matches the job's own bucket function
    mismatch = (
        bucketed.withColumn("b2", bucket_expr(SALT, N_BUCKETS))
        .filter("bucket != b2").count()
    )
    assert mismatch == 0


def test_extract_job_bucketed_zero_exchange(spark, tmp_path):
    """run_extract_job(input_bucketed=True) over a pre-bucketed raw corpus:
    same committed output as the shuffled path."""
    from deidcm_spark.lineage import (
        prepare_bucketed_raw_corpus,
        run_extract_job,
    )

    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    prepare_bucketed_raw_corpus(raw, "bt_extract_corpus", SALT, N_BUCKETS)

    d1 = str(tmp_path / "ex_bucketed")
    d2 = str(tmp_path / "ex_shuffled")
    s1 = run_extract_job(spark, spark.table("bt_extract_corpus"), d1, SALT,
                         n_buckets=N_BUCKETS, input_bucketed=True)
    s2 = run_extract_job(spark, raw, d2, SALT, n_buckets=N_BUCKETS)
    assert s1["processed"] == s2["processed"] == N_BUCKETS
    assert _snapshot(read_output(spark, d1)) == _snapshot(read_output(spark, d2))


def test_bucketed_crash_resume_and_guards(spark, tmp_path):
    from deidcm_spark.lineage import prepare_bucketed_corpus

    docs = _docs(spark, 100)
    prepare_bucketed_corpus(docs, "bt_resume_corpus", SALT, N_BUCKETS)
    bucketed = spark.table("bt_resume_corpus")
    out = str(tmp_path / "resume_out")

    # crash after 3 buckets, then resume — completion reconciles doc totals
    s1 = run_deid_job(spark, bucketed, out, ORG_ROOT, SALT, n_buckets=N_BUCKETS,
                      input_bucketed=True, max_buckets_this_attempt=3)
    assert s1["processed"] == 3 and "reconciled_docs" not in s1
    s2 = run_deid_job(spark, bucketed, out, ORG_ROOT, SALT, n_buckets=N_BUCKETS,
                      input_bucketed=True)
    assert s2["committed_before"] == 3 and s2["processed"] == N_BUCKETS - 3
    assert s2["reconciled_docs"] == 100
    assert _snapshot(read_output(spark, out)) == _snapshot(
        deidentify_attributes(docs, ORG_ROOT, SALT)
    )

    # guard: input_bucketed without a bucket column refuses
    with pytest.raises(ValueError, match="bucket"):
        run_deid_job(spark, docs, str(tmp_path / "x1"), ORG_ROOT, SALT,
                     n_buckets=N_BUCKETS, input_bucketed=True)
    # guard: stored bucket from a DIFFERENT salt fails the probe
    from deidcm_spark.lineage import bucket_expr

    wrong = docs.withColumn("bucket", bucket_expr("other_salt", N_BUCKETS))
    with pytest.raises(ValueError, match="does not"):
        run_deid_job(spark, wrong, str(tmp_path / "x2"), ORG_ROOT, SALT,
                     n_buckets=N_BUCKETS, input_bucketed=True)


def test_lineage_read_fallback_only_on_path_not_found(spark, tmp_path):
    """Only the first-run path-not-found case may fall back to 'nothing
    committed' — any other read failure must raise: silently restarting
    reprocesses every bucket AND appends duplicate committed rows that
    break the completion reconciliation (the streaming Bloom/LSH log
    contract)."""
    from deidcm_spark.lineage import committed_buckets

    # genuinely absent -> first run, empty set
    assert committed_buckets(spark, str(tmp_path / "never"), "r") == set()
    # existing but unreadable-as-parquet (empty dir: schema inference
    # fails with a different error class) -> must raise, not restart
    bad = tmp_path / "exists"
    (bad / "_lineage").mkdir(parents=True)
    with pytest.raises(Exception, match="(?i)schema|parquet|infer"):
        committed_buckets(spark, str(bad), "r")


# ---------------------------------------------------------------------------
# the one-pass commit: counters tallied by the write job itself, for both
# bucket-commit jobs
# ---------------------------------------------------------------------------

JOBS = ("deid", "extract")


def _raw(spark, n=120):
    """Raw (doc_id, text, lang, source) pages of varying length, built
    JVM-side: the shortest extract to their image span alone."""
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "repeat(concat('Sentence ', id, ' of a plain page. '), "
        "cast(id % 6 AS int)) AS text",
        "'en' AS lang", "'web' AS source",
    )


def _inputs(spark, job, n):
    return _docs(spark, n) if job == "deid" else _raw(spark, n)


def _run(spark, job, docs, out, **kw):
    from deidcm_spark.lineage import run_extract_job

    if job == "deid":
        return run_deid_job(spark, docs, out, ORG_ROOT, SALT, N_BUCKETS, "r1", **kw)
    return run_extract_job(spark, docs, out, SALT, N_BUCKETS, "r1", **kw)


def _counters(job):
    """The job's lineage counter columns, in lineage schema order."""
    from deidcm_spark.lineage import COUNTERS
    from deidcm_spark.schema import EXTRACT_LINEAGE_SCHEMA

    if job == "deid":
        return COUNTERS
    return tuple(f.name for f in EXTRACT_LINEAGE_SCHEMA.fields[2:-1])


def _lineage_vs_data(out, run_id, n_buckets, job="deid"):
    """(lineage counters, the same counters re-aggregated from the parquet
    files under data/) per bucket, every bucket of range(n_buckets)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    counters = _counters(job)
    lin = pq.read_table(os.path.join(out, "_lineage")).to_pylist()
    got = {r["bucket"]: tuple(r[c] for c in counters)
           for r in lin if r["run_id"] == run_id}
    assert len(got) == sum(r["run_id"] == run_id for r in lin)  # one row each

    want = {b: (0,) * len(counters) for b in range(n_buckets)}
    data_dir = os.path.join(out, "data")
    for part in os.listdir(data_dir):
        if not part.startswith("bucket="):
            continue
        t = pq.read_table(os.path.join(data_dir, part))
        n_spans = pc.sum(pc.list_value_length(t["spans"])).as_py() or 0
        if job == "deid":
            rm, er, ps, kp = (pc.sum(t[c]).as_py() or 0 for c in counters[3:])
            row = (t.num_rows, rm + er + ps + kp, n_spans, rm, er, ps, kp)
        else:
            kinds = pc.struct_field(pc.list_flatten(t["spans"]), "kind")
            row = (t.num_rows, n_spans,
                   pc.sum(pc.equal(kinds, "text")).as_py() or 0,
                   pc.sum(pc.equal(kinds, "media")).as_py() or 0)
        want[int(part.split("=")[1])] = row
    return got, want


@pytest.mark.parametrize(
    "job,case",
    [pytest.param("deid", c, id=c) for c in
     ("shuffled", "bucketed", "resumed", "empty_bucket")]
    + [pytest.param("extract", c, id=f"extract-{c}") for c in
       ("shuffled", "bucketed", "resumed", "empty_bucket")],
)
def test_lineage_counters_equal_reaggregated_data(spark, tmp_path, job, case):
    """Every counter of every committed bucket equals a re-aggregation of
    the parquet written under data/ — shuffled, pre-bucketed, after a
    crash + resume, and for a pending bucket holding no document; for the
    deid and the extraction job."""
    from deidcm_spark.lineage import (
        bucket_expr,
        prepare_bucketed_corpus,
        prepare_bucketed_raw_corpus,
    )

    out = str(tmp_path / case)
    docs = _inputs(spark, job, 120)
    if case == "shuffled":
        _run(spark, job, docs, out)
    elif case == "bucketed":
        prepare = prepare_bucketed_corpus if job == "deid" else prepare_bucketed_raw_corpus
        prepare(docs, f"bt_counters_{job}", SALT, N_BUCKETS)
        s = _run(spark, job, spark.table(f"bt_counters_{job}"), out,
                 input_bucketed=True)
        if job == "deid":
            assert s["reconciled_docs"] == 120
    elif case == "resumed":
        _run(spark, job, docs, out, max_buckets_this_attempt=3)
        _run(spark, job, docs, out)
    else:
        # the extraction job buckets the string-cast doc_id
        docs = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
        docs = docs.filter(bucket_expr(SALT, N_BUCKETS) != 3)  # bucket 3 empty
        _run(spark, job, docs, out)
    got, want = _lineage_vs_data(out, "r1", N_BUCKETS, job)
    assert got == want
    assert sum(v[0] for v in got.values()) == docs.count()
    if case == "empty_bucket":
        assert got[3] == (0,) * len(_counters(job))
    if job == "extract":
        # the pages give both text and media spans to count
        assert sum(v[2] for v in got.values()) > 0
        assert sum(v[3] for v in got.values()) == docs.count()


@pytest.mark.parametrize("n_buckets", [0, -1])
@pytest.mark.parametrize("job", JOBS)
def test_commit_rejects_fewer_than_one_bucket(spark, tmp_path, job, n_buckets):
    """n_buckets < 1 leaves range(n_buckets) empty: the job must refuse
    instead of reporting a clean attempt that wrote nothing."""
    from deidcm_spark.lineage import run_extract_job

    out = tmp_path / "out"
    with pytest.raises(ValueError, match="n_buckets"):
        if job == "deid":
            run_deid_job(spark, _docs(spark, 10), str(out), ORG_ROOT, SALT,
                         n_buckets=n_buckets)
        else:
            run_extract_job(spark, _raw(spark, 10), str(out), SALT,
                            n_buckets=n_buckets)
    assert not out.exists()


@pytest.mark.parametrize("job", JOBS)
def test_lineage_is_one_file_per_attempt(spark, tmp_path, job):
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "files")
    docs = _inputs(spark, job, 60)
    _run(spark, job, docs, out, max_buckets_this_attempt=5)
    _run(spark, job, docs, out)
    files = glob.glob(f"{out}/_lineage/*.parquet")
    assert len(files) == 2
    schema = read_lineage(spark, out).schema
    assert [(f.name, f.dataType.simpleString()) for f in schema] == {
        "deid": [
            ("run_id", "string"), ("bucket", "int"), ("n_docs", "int"),
            ("n_spans_in", "int"), ("n_spans_out", "int"), ("n_removed", "int"),
            ("n_erased", "int"), ("n_pseudonymized", "int"), ("n_kept", "int"),
            ("status", "string"),
        ],
        "extract": [
            ("run_id", "string"), ("bucket", "int"), ("n_docs", "int"),
            ("n_spans_out", "int"), ("n_text_spans", "int"),
            ("n_media_spans", "int"), ("status", "string"),
        ],
    }[job]
    # int32 / string columns, every one non-null in the files themselves
    for f in files:
        assert not any(field.nullable for field in pq.read_schema(f))


@pytest.mark.parametrize("job", JOBS)
def test_deid_commit_reads_nothing_back_and_pickles_no_frame(
    spark, tmp_path, monkeypatch, job
):
    """The commit takes its counters from the write job: neither bucket
    job reads a file under data/ nor builds a Python-pickled frame (a
    list-based createDataFrame parallelizes through Python workers)."""
    import os

    from pyspark import SparkContext

    out = str(tmp_path / "oneshot")
    docs = _inputs(spark, job, 80)
    data_dir = os.path.join(out, "data")
    reads, parallelized = [], []
    reader = type(spark.read)
    for name in ("parquet", "load"):
        real = getattr(reader, name)
        monkeypatch.setattr(
            reader, name,
            lambda self, *paths, _real=real, **kw: reads.extend(map(str, paths))
            or _real(self, *paths, **kw),
        )
    real_par = SparkContext.parallelize
    monkeypatch.setattr(
        SparkContext, "parallelize",
        lambda self, *a, **kw: parallelized.append(a) or real_par(self, *a, **kw),
    )
    _run(spark, job, docs, out, max_buckets_this_attempt=3)
    _run(spark, job, docs, out)
    monkeypatch.undo()
    assert reads, "the lineage log is still read for the resume anti-join"
    assert not [p for p in reads if p.startswith(data_dir)], reads
    assert parallelized == []
    got, want = _lineage_vs_data(out, "r1", N_BUCKETS, job)
    assert got == want


def test_extract_shuffled_path_tasks_capped_at_parallelism(spark, tmp_path):
    """16 pending buckets on the shuffled path repartition into
    min(16, defaultParallelism) partitions: no stage of the attempt — the
    extraction stage included — runs more tasks than there are cores, so
    no Python task sits empty."""
    from deidcm_spark.lineage import run_extract_job

    sc = spark.sparkContext
    group = "extract_task_cap"
    sc.setJobGroup(group, "extract shuffled-path task cap")
    try:
        s = run_extract_job(spark, _raw(spark, 200), str(tmp_path / "cap"),
                            SALT, n_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["processed"] == 16
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).numTasks
        for j in tracker.getJobIdsForGroup(group)
    ]
    assert tasks, "the attempt ran no job"
    assert max(tasks) <= sc.defaultParallelism < 16, tasks


def test_jobs_leave_the_session_overwrite_mode_alone(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: after both
    bucket-commit jobs a later partitioned overwrite in the caller's
    session still replaces the whole table."""
    from deidcm_spark.lineage import run_extract_job
    from deidcm_spark.schema import local_frame

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        run_deid_job(spark, _docs(spark, 40), str(tmp_path / "d"), ORG_ROOT,
                     SALT, N_BUCKETS, "r1")
        raw = local_frame(
            spark,
            [(i, f"<html><body><p>Paragraph {i} of a short page.</p></body></html>",
              "en", "web") for i in range(40)],
            "doc_id long, text string, lang string, source string",
        )
        run_extract_job(spark, raw, str(tmp_path / "e"), SALT, n_buckets=N_BUCKETS)
        assert spark.conf.get(key) == "STATIC"
        t = str(tmp_path / "t")
        spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(t)
        spark.range(1).withColumn("p", F.lit(0)).write.mode("overwrite") \
            .partitionBy("p").parquet(t)
        assert spark.read.parquet(t).count() == 1
    finally:
        spark.conf.set(key, before)


_RETRY_SCRIPT = r"""
import json, os, sys

from pyspark import TaskContext

from deidcm_spark import corpus, lineage
from deidcm_spark.operators import extract
from deidcm_spark.session import get_spark

out, marker, job = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark(app_name="lineage_retry", master="local[2,2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")


def flaky(real):
    def kernel(df, *args, **kwargs):
        # the kernel (and its tally) runs first; a later stage of the SAME
        # task then fails once, so the failed attempt has already tallied
        # its batches
        out_df = real(df, *args, **kwargs)

        def fail_once(batches):
            held = list(batches)
            ctx = TaskContext.get()
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                open(marker, "w").close()
                raise RuntimeError("injected task failure after the kernel ran")
            yield from held

        return out_df.mapInArrow(fail_once, out_df.schema)

    return kernel


if job == "deid":
    real = lineage.deidentify_attributes
    lineage.deidentify_attributes = flaky(real)
    docs = corpus.synth_documents(spark, 200, seed=21, media_rate=0.1, skew=0.05)
    lineage.run_deid_job(spark, docs, out, "9.9.9.9.9", "retry_salt", 8, "r1")
    direct = real(docs, "9.9.9.9.9", "retry_salt", with_metrics=True).selectExpr(
        "count(*)", "sum(n_removed + n_erased + n_pseudonymized + n_kept)",
        "sum(size(spans))", "sum(n_removed)", "sum(n_erased)",
        "sum(n_pseudonymized)", "sum(n_kept)",
    )
else:
    real = extract.extract_main_content
    extract.extract_main_content = flaky(real)
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "repeat('A sentence of a plain page. ', cast(id % 6 AS int)) AS text",
        "'en' AS lang", "'web' AS source",
    )
    lineage.run_extract_job(spark, docs, out, "retry_salt", 8, "r1")
    direct = real(extract.with_html(docs)).selectExpr(
        "count(*)", "sum(size(spans))",
        "sum(size(filter(spans, s -> s.kind = 'text')))",
        "sum(size(filter(spans, s -> s.kind = 'media')))",
    )
print(json.dumps([int(v) for v in direct.collect()[0]]))
spark.stop()
"""


@pytest.mark.parametrize("job", JOBS)
def test_retried_task_does_not_double_count(tmp_path, job):
    """A task that fails once AFTER the kernel tallied its batches is
    retried; the failed attempt's accumulator update is dropped, so the
    lineage totals equal the input exactly (fresh interpreter, local[2,2]:
    two cores, one retry allowed)."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out, marker = str(tmp_path / "retry"), str(tmp_path / "failed_once")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, out, marker, job],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": root},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert os.path.exists(marker), "the injected failure never fired"
    want = json.loads(proc.stdout.strip().splitlines()[-1])
    got, from_data = _lineage_vs_data(out, "r1", 8, job)
    assert got == from_data
    totals = [sum(v[i] for v in got.values()) for i in range(len(_counters(job)))]
    assert totals == want
    assert totals[0] == 200


def test_bucketed_reconciliation_reads_no_lineage_back(spark, tmp_path, monkeypatch):
    """A first input_bucketed attempt reconciles against the doc total the
    driver already holds (earlier attempts' lineage rows + this attempt's
    accumulator): the absent lineage log is not read at all (an existence
    check instead of a failed read), a second attempt reads it exactly
    once, at attempt start, and the first attempt runs at most 6 Spark
    jobs — the stored-bucket probe, the data write, the lineage append and
    the source count (9 with a read-back)."""
    from deidcm_spark.lineage import prepare_bucketed_corpus

    prepare_bucketed_corpus(_docs(spark, 200), "bt_jobs_corpus", SALT, N_BUCKETS)
    out = str(tmp_path / "jobs")
    reads = []
    reader = type(spark.read)
    real = reader.parquet
    monkeypatch.setattr(
        reader, "parquet",
        lambda self, *paths, **kw: reads.extend(map(str, paths)) or real(self, *paths, **kw),
    )
    sc = spark.sparkContext
    group = "bucketed_first_attempt"
    sc.setJobGroup(group, "first input_bucketed attempt")
    try:
        s = run_deid_job(spark, spark.table("bt_jobs_corpus"), out, ORG_ROOT, SALT,
                         n_buckets=N_BUCKETS, input_bucketed=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["processed"] == N_BUCKETS and s["reconciled_docs"] == 200
    assert [p for p in reads if "_lineage" in p] == []
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 6, n_jobs

    again = run_deid_job(spark, spark.table("bt_jobs_corpus"), out, ORG_ROOT, SALT,
                         n_buckets=N_BUCKETS, input_bucketed=True)
    monkeypatch.undo()
    assert again["processed"] == 0
    assert [p for p in reads if "_lineage" in p] == [f"{out}/_lineage"]


def test_bucketed_reconciliation_counts_duplicate_committed_rows(spark, tmp_path):
    """The driver-side total sums every committed row of the run: a bucket
    committed twice (e.g. an attempt restarted over an unreadable log)
    inflates the total and fails the reconciliation instead of being
    deduplicated away."""
    import pyarrow.parquet as pq

    from deidcm_spark.lineage import prepare_bucketed_corpus
    from deidcm_spark.schema import LINEAGE_SCHEMA, local_frame

    prepare_bucketed_corpus(_docs(spark, 100), "bt_dup_corpus", SALT, N_BUCKETS)
    bucketed = spark.table("bt_dup_corpus")
    out = str(tmp_path / "dup")
    run_deid_job(spark, bucketed, out, ORG_ROOT, SALT, n_buckets=N_BUCKETS,
                 input_bucketed=True, max_buckets_this_attempt=3)
    rows = pq.read_table(f"{out}/_lineage").to_pylist()
    dup = max(rows, key=lambda r: r["n_docs"])
    assert dup["n_docs"] > 0
    local_frame(spark, [tuple(dup[f.name] for f in LINEAGE_SCHEMA.fields)],
                LINEAGE_SCHEMA).write.mode("append").parquet(f"{out}/_lineage")
    with pytest.raises(ValueError, match=f"committed {100 + dup['n_docs']} documents"):
        run_deid_job(spark, bucketed, out, ORG_ROOT, SALT, n_buckets=N_BUCKETS,
                     input_bucketed=True)
