"""The job main writes through ``pipeline.write_stage`` only: one write
job per output, summary fields observed on that write, no schema-less
read-back of its own output and no counting pass over it."""

import ast
import itertools
import os

import pytest
from test_cli import SF

from deidcm_spark.__main__ import main
from deidcm_spark.ingest import documents_to_spans

MAIN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "deidcm_spark", "__main__.py")


def _mentions_output(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Attribute) and n.attr == "output"
        and isinstance(n.value, ast.Name) and n.value.id == "args"
        for n in ast.walk(node)
    )


def _write_bypasses(source: str) -> list[int]:
    """Lines of any ``.write`` attribute chain, and of any ``.parquet(...)``
    call on a path built from ``args.output`` (a read-back of the
    command's own output)."""
    hits = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            hits.add(node.lineno)
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr == "parquet"
              and any(_mentions_output(a) for a in node.args)):
            hits.add(node.lineno)
    return sorted(hits)


def test_guard_recognizes_the_bypasses():
    src = (
        "df.write.mode('overwrite').parquet(p)\n"
        "w = df.write\n"
        "spark.read.parquet(args.output + '/x')\n"
        "spark.read.schema(s).parquet(f'{args.output}/y')\n"
        "spark.read.parquet(args.input)\n"
        "write_stage(spark, df, args.output + '/z', n=_rows())\n"
        "spark.read.parquet(args.codebook)\n"
        "_write_counted(spark, df, args.output)\n"
    )
    assert _write_bypasses(src) == [1, 2, 3, 4]


def test_cli_writes_only_through_write_stage():
    with open(MAIN, encoding="utf-8") as fh:
        offenders = _write_bypasses(fh.read())
    assert offenders == [], (
        "write CLI outputs with pipeline.write_stage and observe the summary "
        f"on that write: __main__.py lines {offenders}"
    )


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_jobs_in")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter("lang = 'en'").write.parquet(str(d / "ref"))
    documents_to_spans(docs).write.parquet(str(d / "spans"))
    base = docs.select("doc_id", "text").filter("doc_id < 50")
    base.unionByName(
        base.selectExpr("doc_id + 1000 as doc_id", "text")
    ).write.parquet(str(d / "dup"))
    spark.createDataFrame(
        [(1, "https://a.example/x?utm_source=f"), (2, "https://A.example/x#frag"),
         (3, "https://ads.example/banner"), (4, "https://ok.example/y")],
        "doc_id bigint, url string",
    ).write.parquet(str(d / "recs"))
    return d


_groups = itertools.count()

# Spark jobs per command at sf0.001 (local[4], 8 shuffle partitions).
# Before the move to write_stage: ppl 13, linededup 11, substrdedup 12,
# packseq 14, report 9, urldedup 12, dedup 18.  extract and deid are the
# bucket-commit jobs: the input's schema inference, the data write (its
# bucket exchange and result stage), the lineage append.
PINS = [
    ("extract", 4, ["--buckets", "8"]),
    ("deid", 4, ["--input", "{in}/spans", "--org-root", "9.9.9.9.9",
                 "--buckets", "8"]),
    ("ppl", 8, ["--reference", "{in}/ref", "--buckets", "4096"]),
    ("linededup", 6, ["--min-line-chars", "5"]),
    ("substrdedup", 7, ["--window", "8"]),
    ("packseq", 8, ["--seq-len", "256"]),
    ("report", 4, []),
    ("urldedup", 6, ["--input", "{in}/recs"]),
    ("dedup", 10, ["--input", "{in}/dup", "--threshold", "0.9"]),
]


@pytest.mark.parametrize("cmd,pin,extra", PINS, ids=[p[0] for p in PINS])
def test_cli_job_count(spark, inputs, tmp_path, capsys, cmd, pin, extra):
    extra = [a.replace("{in}", str(inputs)) for a in extra]
    argv = [cmd, "--output", str(tmp_path / cmd)]
    if cmd not in ("extract", "deid"):  # the bucket-commit jobs take no such option
        argv += ["--shuffle-partitions", "8"]
    if "--input" not in extra:
        argv += ["--input", f"{SF}/documents.parquet"]
    sc = spark.sparkContext
    group = f"cli_jobs_{cmd}_{next(_groups)}"
    sc.setJobGroup(group, f"cli {cmd}")
    try:
        main(argv + extra)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    capsys.readouterr()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= pin, f"{cmd}: {n_jobs} Spark jobs, pinned at {pin}"
