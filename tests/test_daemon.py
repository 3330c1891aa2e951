"""The preloaded, frozen Python daemon (deidcm_spark/_daemon.py): the
workers of a ``session.get_spark`` session fork from it, find the preloaded
modules and a frozen GC generation on entry, and the daemon runs no thread
but its own and jemalloc's when it forks.  A vanilla session keeps
PySpark's stock daemon."""

import json
import os
import subprocess
import sys
import zipfile

from deidcm_spark import _daemon
from deidcm_spark.session import WORKER_ENV

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE_SCHEMA = (
    "parent string, preloaded boolean, frozen long, parent_threads string,"
    " worker_env boolean"
)


def _probe(preload, worker_env):
    """A ``mapInArrow`` function: one row per task, read on entry."""

    def probe(batches):
        import gc

        import pyarrow as pa

        preloaded = all(name in sys.modules for name in preload)
        parent = os.getppid()
        with open(f"/proc/{parent}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        # every thread of the daemon but its main one, by name
        threads = []
        for tid in os.listdir(f"/proc/{parent}/task"):
            if int(tid) != parent:
                with open(f"/proc/{parent}/task/{tid}/comm") as f:
                    threads.append(f.read().strip())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "parent": cmdline,
            "preloaded": preloaded,
            "frozen": gc.get_freeze_count(),
            "parent_threads": ",".join(sorted(threads)),
            "worker_env": all(os.environ.get(k) == v for k, v in worker_env.items()),
        }])

    return probe


def test_workers_fork_from_the_preloaded_frozen_daemon(spark):
    rows = (
        spark.range(0, 16, numPartitions=16)
        .mapInArrow(_probe(_daemon.PRELOAD, WORKER_ENV), _PROBE_SCHEMA)
        .collect()
    )
    assert len(rows) == 16
    for r in rows:
        assert "-m deidcm_spark._daemon" in r.parent, r.parent
        assert r.preloaded
        assert r.frozen > 0
        # nothing but jemalloc's background thread runs beside the daemon's
        # loop when it forks, and its decay is off
        assert r.parent_threads in ("", "jemalloc_bg_thd"), r.parent_threads
        assert r.worker_env


_SUBMITTED = r"""
import json
from deidcm_spark.session import get_spark
from pyspark.sql import SparkSession

def parent(batches):
    import os
    import pyarrow as pa
    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        cmd = f.read().replace(b"\0", b" ").decode()
    yield pa.RecordBatch.from_pylist([{"parent": cmd}])

def parents(spark):
    df = spark.range(0, 2, numPartitions=2).mapInArrow(parent, "parent string")
    return sorted({r.parent for r in df.collect()})

spark = get_spark(app_name="daemon_submit", master="local[1]", shuffle_partitions=1)
ours = parents(spark)
spark.stop()
vanilla = SparkSession.builder.master("local[1]").getOrCreate()
stock = parents(vanilla)
vanilla.stop()
print(json.dumps({"ours": ours, "stock": stock}))
"""


def test_spark_submit_with_py_files_only(tmp_path):
    """The package reaches the workers only as a --py-files archive, which
    a task puts on sys.path after the daemon has started: the session still
    starts its daemon.  A vanilla session in the same process keeps
    PySpark's own."""
    archive = tmp_path / "deidcm_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, "deidcm_spark")):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in files:
                path = os.path.join(dirpath, name)
                z.write(path, os.path.relpath(path, ROOT))
    script = tmp_path / "submitted.py"
    script.write_text(_SUBMITTED)
    env = {k: v for k, v in os.environ.items() if not k.startswith(
        ("PYTHONPATH", "PYSPARK_GATEWAY", "SPARK_CONF_DIR"))}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[1]", "--py-files", str(archive), str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    [ours] = result["ours"]
    [stock] = result["stock"]
    assert "-m deidcm_spark._daemon" in ours, ours
    assert "-m pyspark.daemon" in stock, stock
