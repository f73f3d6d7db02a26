"""tuatara_spark — a PySpark-native web-scale text-extraction engine.

A brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference OCR extraction engine ``jackvial/tuatara``
(C++; /root/reference/tuatara.cpp). The pipeline semantics — text-region
detection, connected-component clustering, reading-order assembly,
recognition, greedy decode with the reference's filter/truncation rules —
are transcribed stage-for-stage into a pure-NumPy kernel (``tuatara_spark.ref``)
and executed at scale through vectorized Arrow UDFs (``tuatara_spark.engine``)
over Spark DataFrames, with url-hash + salted partitioning
(``tuatara_spark.partitioning``), snapshot/manifest lineage and resume
(``tuatara_spark.catalog``).

Everything here derives only from public knowledge: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

import os as _os
import sys as _sys
import zipimport as _zipimport

# Pin BLAS pools to one thread per process BEFORE NumPy loads OpenBLAS.
# Spark parallelism comes from tasks (one Python worker per core); a 32-way
# BLAS pool inside each of 32 workers oversubscribes the box ~26x on the
# small GEMMs this engine runs (measured: 15 ms → 0.6 ms per call).
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")


class _PinnedZipImporter(_zipimport.zipimporter):
    """A zipimporter whose archive cannot change while the process lives."""

    def invalidate_caches(self):
        pass


class _SparkArchiveHook:
    """``sys.path_hooks`` entry that gives every NEW path into an archive
    under ``root`` a pinned importer — a pyspark subpackage first imported
    after the pin gets its own importer, which must not re-read either."""

    def __init__(self, root: str):
        self.root = root

    def __eq__(self, other):
        return isinstance(other, _SparkArchiveHook) and other.root == self.root

    def __call__(self, path: str) -> _PinnedZipImporter:
        if not _os.path.realpath(path).startswith(self.root):
            raise ImportError("not under $SPARK_HOME", path=path)
        return _PinnedZipImporter(path)  # ZipImportError unless a zip


def _pin_spark_archives(spark_home: str | None) -> None:
    """Stop ``importlib.invalidate_caches()`` re-reading Spark's own archives.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    EVERY task (``worker_util.setup_spark_files``), and on Python 3.11 that
    makes each cached ``zipimporter`` re-read its archive's central
    directory. A Python worker holds 16 of them, all on archives under
    ``$SPARK_HOME``: ``pyspark.zip`` (1328 entries, ~13 ms per importer, 12
    importers), the ``spark-core`` jar (5359 entries, ~56 ms, 2) and the py4j
    zip (2) — ~200 ms of CPU per task, repeated on every task of a reused
    worker (measured on a 4-vCPU VM, Python 3.11.7, pyspark 4.1.2). Spark's
    installation is read-only while its workers run, so those importers are
    swapped for ones whose ``invalidate_caches`` does nothing, and a path
    hook pins the ones created later. Every other archive (an ``addPyFile``
    zip, user ``--py-files``) keeps refreshing. A no-op when ``spark_home``
    is unset or no cached importer lies under it, as on a driver that
    imports pyspark from site-packages.
    """
    if not spark_home:
        return
    hook = _SparkArchiveHook(_os.path.join(_os.path.realpath(spark_home), ""))
    plain = [path for path, finder in _sys.path_importer_cache.items()
             if type(finder) is _zipimport.zipimporter
             and _os.path.realpath(finder.archive).startswith(hook.root)]
    for path in plain:
        # built from the cached directory: no archive read here
        _sys.path_importer_cache[path] = _PinnedZipImporter(path)
    if plain and hook not in _sys.path_hooks:
        _sys.path_hooks.insert(0, hook)


# Every tuatara UDF imports this package in its Python worker, so the pin
# lands during a worker's first task and every later task skips the reads.
_pin_spark_archives(_os.environ.get("SPARK_HOME"))

__version__ = "0.1.0"
