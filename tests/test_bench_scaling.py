"""The N-vs-4N scaling tool stays importable: its launch helpers live in
bench_scaling.py itself, so a dangling import fails here, not on the next
multi-hour scaling run."""

from __future__ import annotations


def test_scaling_tool_imports():
    import bench_scaling
    import tools.scaling_worker

    assert bench_scaling.pin_args(8) == ["taskset", "-c", "0-7"]
    for helper in (bench_scaling.spark_submit_json, bench_scaling.replicate_docs,
                   bench_scaling.main, tools.scaling_worker.main):
        assert callable(helper)
