"""The Python daemon that Spark forks this engine's workers from.

Every kernel of the engine runs in a vectorized Arrow or pandas UDF, so
every Python worker imports numpy, pandas, pyarrow and PySpark's Arrow
serializers.  PySpark's stock daemon (``pyspark.daemon``) imports none of
them before it forks, so each worker builds and keeps a private copy.
``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
which

1. imports :data:`PRELOAD` (and, being part of the package, installs the
   ``_zipimport`` shim, so a worker's first task invalidates lazily too);
2. calls ``gc.freeze()``: the daemon's workers run ``gc.collect()`` after
   every task, and a collection writes to the header of every object it
   walks, which would copy each shared page into the worker that walked it;
   frozen objects are never walked;
3. runs PySpark's own daemon loop (``pyspark.daemon.manager``).

Forked workers then share those pages with the daemon copy-on-write.
Nothing else changes: the worker code, its protocol and its options are
PySpark's.  The executors must be able to import ``deidcm_spark`` when they
start the daemon, which is before any task has put ``--py-files`` archives
on ``sys.path``; ``session.get_spark`` therefore puts the directory (or
archive) the driver imported the package from on the workers'
``PYTHONPATH``.

Fork safety: the daemon starts no thread of its own.  With pyarrow loaded it
holds one more, jemalloc's ``jemalloc_bg_thd``; ``session.WORKER_ENV``
turns jemalloc's decay off, so that thread purges nothing, and a forked
worker starts with only the thread that forked it.
"""

from __future__ import annotations

import gc
import importlib

PRELOAD = ("numpy", "pandas", "pyarrow", "pyspark.sql.pandas.serializers")


def main() -> None:
    for name in PRELOAD:
        importlib.import_module(name)
    # reads the worker module Spark passes in sys.argv
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
