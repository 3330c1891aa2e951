"""pipeline.curate runs one Spark job per stage barrier: the gate stage
plans one tokenizer pass with no join, the ledger is observed on the
stage writes, and every ledger value equals a recount of its stage."""

import pytest
from pyspark.sql import DataFrameWriter, functions as F
from pyspark.sql.classic.dataframe import DataFrame

from deidcm_spark.operators import textops
from deidcm_spark.pipeline import curate
from test_cli import SF  # the 500-document fixture tables

ACTIONS = ("count", "collect", "first", "take", "toPandas")


class _Actions:
    """Records the top-level DataFrame actions and parquet writes made
    inside the block (an action another one calls, e.g. first -> collect,
    is not counted again); keeps each written frame by stage name."""

    def __init__(self):
        self.counts: dict[str, int] = {}
        self.written: dict[str, DataFrame] = {}
        self._saved = []
        self._depth = 0

    def _wrap(self, cls, name):
        orig = getattr(cls, name)
        rec = self

        def wrapped(obj, *args, **kwargs):
            if rec._depth == 0:
                key = "write" if cls is DataFrameWriter else name
                rec.counts[key] = rec.counts.get(key, 0) + 1
                if key == "write":
                    path = str(args[0] if args else kwargs["path"])
                    rec.written[path.rstrip("/").rsplit("/", 1)[-1]] = obj._df
            rec._depth += 1
            try:
                return orig(obj, *args, **kwargs)
            finally:
                rec._depth -= 1

        self._saved.append((cls, name, orig))
        setattr(cls, name, wrapped)

    def __enter__(self):
        for name in ACTIONS:
            self._wrap(DataFrame, name)
        self._wrap(DataFrameWriter, "parquet")
        return self

    def __exit__(self, *exc):
        for cls, name, orig in reversed(self._saved):
            setattr(cls, name, orig)


def _curate(spark, out, docs, **kwargs):
    with _Actions() as acts:
        ledger = curate(spark, docs, out, seq_len=512, **kwargs)
    return ledger, acts


@pytest.fixture(scope="module")
def sf_input(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("curate")
    src = str(base / "src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # planted exact duplicates so the dedup stage drops documents
    docs.unionByName(
        docs.filter("doc_id < 20").selectExpr("doc_id + 100000 as doc_id", "text")
    ).write.parquet(src)
    return base, spark.read.parquet(src)


@pytest.fixture(scope="module")
def curated(spark, sf_input):
    base, docs = sf_input
    out = str(base / "out")
    ledger, acts = _curate(spark, out, docs)
    return out, ledger, acts


@pytest.fixture(scope="module")
def curated_classifier(spark, sf_input):
    base, docs = sf_input
    out = str(base / "out_cls")
    pos = docs.filter("doc_id % 7 = 0")
    ledger, acts = _curate(spark, out, docs, classifier_positive=pos)
    return out, ledger, acts


def test_curate_gate_stage_one_tokenizer_pass_no_join(curated):
    # a Filter on `keep` would be pushed below the layered projections
    # and inline the signal tree into the scan (38 split( calls), and the
    # text would come back through a semi self-join
    _, _, acts = curated
    plan = acts.written["gated"]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "Join" not in plan, plan


def test_curate_actions_are_the_stage_writes(curated, curated_classifier):
    # the one collect is _prefix_tokens' block totals
    assert curated[2].counts == {"write": 5, "collect": 1}
    # nb_train adds its own 2 counts + 2 collects (class sizes, vocab)
    assert curated_classifier[2].counts == {"write": 6, "count": 2, "collect": 3}


def _recount(spark, out, ledger, stages):
    for key, stage in stages.items():
        assert ledger[key] == spark.read.parquet(f"{out}/{stage}").count(), key
    seq = spark.read.parquet(f"{out}/sequences")
    assert ledger["sequences"] == seq.agg(F.countDistinct("seq_id")).first()[0]


def test_curate_ledger_equals_stage_recounts(spark, curated, curated_classifier):
    stages = {"docs_in": "normalized", "docs_after_gate": "gated",
              "docs_after_dedup": "deduped"}
    out, ledger, _ = curated
    assert ledger["docs_in"] == 520 and ledger["sequences"] > 0
    assert ledger["docs_after_dedup"] < ledger["docs_after_gate"]
    _recount(spark, out, ledger, stages)
    out, ledger, _ = curated_classifier
    assert list(ledger) == ["docs_in", "docs_after_gate", "docs_after_dedup",
                            "sequences", "seq_len", "docs_after_classifier"]
    _recount(spark, out, ledger,
             {**stages, "docs_after_classifier": "classified"})


def test_curate_ledger_when_gate_keeps_nothing(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, None), (2, "tiny doc"), (3, "another short one")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "out")
    ledger, acts = _curate(spark, out, spark.read.parquet(src))
    assert ledger == {"docs_in": 3, "docs_after_gate": 0,
                      "docs_after_dedup": 0, "sequences": 0, "seq_len": 512}
    assert acts.counts == {"write": 5, "collect": 1}
    for stage in ("gated", "line_deduped", "deduped", "sequences"):
        assert os.path.isdir(f"{out}/{stage}"), stage
        assert spark.read.parquet(f"{out}/{stage}").count() == 0, stage


@pytest.mark.parametrize("seq_len", [0, -2])
def test_curate_rejects_seq_len_below_one_before_any_write(spark, tmp_path, seq_len):
    out = tmp_path / "out"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with _Actions() as acts, pytest.raises(ValueError, match="seq_len must be >= 1"):
        curate(spark, docs, str(out), seq_len=seq_len)
    assert acts.counts == {}
    assert not out.exists()


@pytest.mark.parametrize("overrides", [
    None,
    # loose enough that the empty (NULL) document survives
    {"min_tokens": 0, "min_avg_token_len": 0.0, "min_stopword_ratio": 0.0,
     "max_repetition_ratio": 1.0, "max_top2_frac": 1.0, "max_dup3_frac": 1.0},
])
def test_quality_gate_survivors_equal_semi_join(spark, overrides):
    """The survivors are exactly the rows the filter + semi-join form
    keeps, NULL text and NULL doc_id included, text unchanged."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs = docs.unionByName(spark.createDataFrame(
        [(900_001, None), (None, "no id " * 60)], "doc_id long, text string"
    ))
    keep = textops.quality_gate(docs, overrides).filter("keep").select("doc_id")
    want = {tuple(r) for r in docs.join(keep, "doc_id", "left_semi").collect()}
    got = textops.quality_gate_survivors(docs, overrides)
    assert got.columns == ["doc_id", "text"]
    assert {tuple(r) for r in got.collect()} == want
    assert ((900_001, None) in want) == (overrides is not None)
