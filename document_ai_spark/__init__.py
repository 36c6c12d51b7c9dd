"""document_ai_spark — a PySpark-native main-content extraction engine.

Brand-new implementation (NOT a port) of the query / data-processing
capabilities of the reference Document-AI system (DanielMaurer02/Document-AI,
read-only snapshot at /root/reference): scan -> dedup -> convert -> split ->
enrich -> embed -> upsert, plus retrieve -> rerank -> format, re-expressed as
lazy Spark DataFrame plans per SURVEY.md.

Layout:
  kernel/     pure-Python deterministic extraction kernels (no Spark imports)
  operators/  DataFrame-level operators (extraction, dedup, chunking, topk, ...)
  functions/  column functions + pandas UDFs (blake2b, embed, scalars)
  sources/    synthetic pages corpus generator + table readers
  plans/      end-to-end pipeline assembly, checkpoint/resume protocol
  streaming/  incremental (Structured Streaming) path

The per-task floor of a Python stage. Before it loads each task's command,
PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). Under CPython 3.11
that makes every ``zipimport.zipimporter`` on the worker re-parse its
archive's directory in pure Python: Spark puts ``pyspark.zip``, the py4j
zip and the spark-core jar on the worker path, 16 importers and 26,672
entries, 0.2-0.3 s per task on a 4-core VM (the same call takes 0.03 ms
in a plain process). Every worker-side function of this package imports
the package while its command unpickles, so on a Spark Python worker
(the daemon imports ``pyspark.worker`` before it forks; a driver never
does) importing the package installs ``_invalidate_if_changed``: an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp it took when it last
read it, so an archive added or rewritten by ``--py-files`` or
``addPyFile`` is still read. A worker's first task runs the stock method
(the package is not imported yet) and its second takes the stamps; from
its third task on the call takes about 0.2 ms (``scripts/task_floor.py``).
CPython 3.13 made ``invalidate_caches`` a lazy cache pop; the same rule
holds there, a skipped pop only keeps a cache that is still valid.
Drivers, tests and plain processes keep the stock method.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The stamp is taken before the read, so a write racing the read shows
    as a changed stamp at the next call."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if "pyspark.worker" in sys.modules:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
