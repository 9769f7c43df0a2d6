"""Spark's Python daemon with its fixed per-task cost taken out.

Started as ``python -m pic2vec_spark.daemon`` through the
``spark.python.daemon.module`` conf that ``session.get_spark`` sets on
local masters; it then runs Spark's own ``pyspark.daemon.manager()``
loop unchanged.

On Python 3.11 every task start calls ``importlib.invalidate_caches()``,
which makes each ``zipimporter`` in ``sys.path_importer_cache`` re-read
its whole archive directory: one importer per imported pyspark
subpackage re-reads ``pyspark.zip``, and the spark-core jar (no Python
in it) is re-read too.  After each task the daemon's child loop runs a
full ``gc.collect()`` over every imported module.  Together that was
0.24 s of worker CPU per task, even for an empty ``mapInPandas``
(0.017 s with this daemon; Python 3.11.7 on a 4-core VM).
This module keeps one importer per archive, drops the jar from
``sys.path`` and freezes the surviving heap once per worker.
"""

import gc
import os
import sys
import zipimport

import pyspark.daemon

_spark_worker_main = pyspark.daemon.worker_main
_tasks_run = 0


def _drop_subpackage_importers() -> None:
    """Remove zipimporters keyed by a path inside their archive.  An
    import that needs one again rebuilds it from zipimport's shared
    directory cache without re-reading the archive."""
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key.startswith(
            finder.archive + os.sep
        ):
            del cache[key]


def worker_main(infile, outfile) -> None:
    """Spark's worker entry point, run once per task in a forked worker;
    ``_tasks_run`` counts that worker's tasks (the daemon runs none)."""
    global _tasks_run
    _tasks_run += 1
    if _tasks_run == 2:
        # Runs right after the daemon loop's post-task gc.collect(), so
        # only objects that survived a full collection are frozen.
        gc.freeze()
    _drop_subpackage_importers()
    _spark_worker_main(infile, outfile)


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    for key in [k for k in sys.path_importer_cache if k.endswith(".jar")]:
        del sys.path_importer_cache[key]
    pyspark.daemon.worker_main = worker_main
    pyspark.daemon.manager()
