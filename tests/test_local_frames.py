"""Small driver-side tables are built as Arrow LocalRelations, never as
pickled Python RDDs (schema.local_frame)."""

import ast
import os

from pyspark import SparkContext

from deidcm_spark.schema import LINEAGE_SCHEMA, local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "deidcm_spark")

_LISTY = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)


def _pickled_frame_calls(source: str) -> list[int]:
    """Lines of ``createDataFrame(<list/tuple literal or comprehension>)``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if name != "createDataFrame":
            continue
        data = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "data"), None)
        if isinstance(data, _LISTY):
            hits.append(node.lineno)
    return hits


def test_guard_recognizes_the_pickled_forms():
    src = (
        "spark.createDataFrame([(1,)], 'a int')\n"
        "s.createDataFrame([], 'a int')\n"
        "s.createDataFrame(data=[(b,) for b in x], schema='a int')\n"
        "s.createDataFrame(((1,),), 'a int')\n"
        "s.createDataFrame(table)\n"
        "local_frame(s, [(1,)], 'a int')\n"
    )
    assert _pickled_frame_calls(src) == [1, 2, 3, 4]


def test_no_pickled_driver_tables_in_the_package():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    offenders += [f"{os.path.relpath(path, PKG)}:{n}"
                                  for n in _pickled_frame_calls(fh.read())]
    assert offenders == [], (
        "build small driver tables with schema.local_frame, not "
        f"createDataFrame(<list>): {offenders}"
    )


def test_local_frame_round_trip_without_python_workers(spark, monkeypatch):
    calls = []
    real = SparkContext.parallelize
    monkeypatch.setattr(SparkContext, "parallelize",
                        lambda self, *a, **k: calls.append(a) or real(self, *a, **k))
    nulls = local_frame(spark, [(1, None, 3), (2, 5, None)],
                        "bucket bigint, n_pos bigint, n_neg bigint")
    assert [tuple(r) for r in nulls.orderBy("bucket").collect()] == [
        (1, None, 3), (2, 5, None)]
    assert nulls.filter("n_pos IS NULL").count() == 1  # NULLs survive
    empty = local_frame(spark, [], "word_idx bigint, bits bigint")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<word_idx:bigint,bits:bigint>"
    arr = local_frame(spark, [(0, [1.0, 2.5])], "cluster int, centroid array<double>")
    assert arr.collect()[0]["centroid"] == [1.0, 2.5]
    lin = local_frame(spark, [("r", 1, 2, 3, 4, 5, 6, 7, 8, "committed")], LINEAGE_SCHEMA)
    assert lin.schema == LINEAGE_SCHEMA
    assert "LocalRelation" in lin._jdf.queryExecution().optimizedPlan().toString()
    assert calls == []
