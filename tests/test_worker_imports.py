"""Spark's own archives are read once per Python worker, not once per task.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task;
``tuatara_spark._pin_spark_archives`` (run when a UDF imports the package)
stops that call re-reading the zips under ``$SPARK_HOME`` while every other
archive keeps refreshing."""

import importlib
import importlib.util
import sys
import zipfile

import tuatara_spark


def _write_zip(path, modules):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(name.replace(".", "/") + ".py", f"NAME = {name!r}\n")
    tmp.replace(path)


def test_pin_skips_only_archives_under_spark_home(tmp_path, monkeypatch):
    home, user = tmp_path / "spark", tmp_path / "user"
    (home / "lib").mkdir(parents=True)
    user.mkdir()
    spark_zip, user_zip = home / "lib" / "sys.zip", user / "user.zip"
    spark_mods = ["pin_sys_a", "pin_sys_pkg.__init__", "pin_sys_pkg.mod"]
    user_mods = ["pin_user_a", "pin_user_pkg.__init__", "pin_user_pkg.mod"]
    _write_zip(spark_zip, spark_mods)
    _write_zip(user_zip, user_mods)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.syspath_prepend(str(user_zip))
    monkeypatch.syspath_prepend(str(spark_zip))
    for name in ("pin_sys_a", "pin_sys_b", "pin_sys_pkg", "pin_sys_pkg.mod",
                 "pin_user_a", "pin_user_b", "pin_user_pkg",
                 "pin_user_pkg.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pin_sys_a").NAME == "pin_sys_a"
    assert importlib.import_module("pin_user_a").NAME == "pin_user_a"
    pinned = tuatara_spark._PinnedZipImporter

    tuatara_spark._pin_spark_archives(None)
    assert all(type(f) is not pinned
               for f in sys.path_importer_cache.values())

    tuatara_spark._pin_spark_archives(str(home))
    assert type(sys.path_importer_cache[str(spark_zip)]) is pinned
    assert type(sys.path_importer_cache[str(user_zip)]) is not pinned

    # importers created after the pin (a package's own path entry)
    importlib.import_module("pin_sys_pkg.mod")
    importlib.import_module("pin_user_pkg.mod")
    cache = dict(sys.path_importer_cache)
    assert type(cache[str(spark_zip / "pin_sys_pkg")]) is pinned
    assert type(cache[str(user_zip / "pin_user_pkg")]) is not pinned

    # both archives gain a module after first use
    _write_zip(spark_zip, spark_mods + ["pin_sys_b"])
    _write_zip(user_zip, user_mods + ["pin_user_b"])
    importlib.invalidate_caches()
    assert importlib.util.find_spec("pin_sys_b") is None  # not re-read
    assert importlib.import_module("pin_user_b").NAME == "pin_user_b"

    hooks = list(sys.path_hooks)
    tuatara_spark._pin_spark_archives(str(home))
    assert sys.path_hooks == hooks
    assert all(sys.path_importer_cache[k] is f for k, f in cache.items())


def test_worker_pins_spark_archives_after_first_task(spark):
    def spark_importers(batches):  # nested: pickled by value, not by module
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import tuatara_spark  # noqa: F401 — what every tuatara UDF does
        import pyspark.streaming  # noqa: F401 — a subpackage imported later

        for _ in batches:
            pass
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        types = [type(f).__name__ for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and os.path.realpath(f.archive).startswith(home)]
        yield pa.RecordBatch.from_arrays([pa.array(types, pa.string())],
                                         names=["type"])

    for _ in range(2):  # two sequential one-task jobs
        rows = (spark.range(1, numPartitions=1)
                .mapInArrow(spark_importers, "type string")
                .collect())
        assert rows, "no importer under $SPARK_HOME in the worker"
        assert {r.type for r in rows} == {"_PinnedZipImporter"}, rows
