"""The engine's Python worker daemon (`worker_daemon`, installed by
`session.get_spark`).

Startup archives are the zips and jars on the worker's PYTHONPATH
(pyspark.zip, the py4j zip, the spark-core jar): they cannot change
under a running worker, so a task's `importlib.invalidate_caches()`
must not re-read them. Everything else about a worker stays stock: the
same pyspark source, stock invalidation for archives a task adds, and
Python errors reaching the driver.
"""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import uuid
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home


def _in_task(spark, fn):
    """Run `fn()` in one Python task and return its result."""
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


def test_daemon_imports_only_stdlib_and_pyspark_daemon():
    from dynamodb_pitr_restore_cdc_spark import worker_daemon

    tree = ast.parse(pathlib.Path(worker_daemon.__file__).read_text())
    imported = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    imported |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert {m for m in imported if m.split(".")[0] not in sys.stdlib_module_names} == {
        "pyspark.daemon"
    }


def test_task_invalidation_keeps_startup_archive_directories(spark):
    def probe():
        import importlib
        import importlib.util
        import zipimport

        archives = [p for p in os.environ["PYTHONPATH"].split(os.pathsep) if os.path.isfile(p)]
        # a miss walks all of sys.path, so every archive has a cached directory
        importlib.util.find_spec("no_such_module_" + uuid.uuid4().hex)
        before = {a: zipimport._zip_directory_cache.get(a) for a in archives}
        importlib.invalidate_caches()
        return {a: d is not None and zipimport._zip_directory_cache.get(a) is d
                for a, d in before.items()}

    kept = _in_task(spark, probe)
    assert any(os.path.basename(a) == "pyspark.zip" for a in kept), kept
    assert all(kept.values()), f"re-read on invalidate_caches(): {kept}"


def test_worker_imports_pyspark_from_the_spark_home_zip(spark):
    def probe():
        import pyspark

        return pyspark.__file__

    archive = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    assert _in_task(spark, probe).startswith(archive + os.sep)


def test_archive_added_after_start_is_importable_with_stock_invalidation(spark, tmp_path):
    name = "wd_probe_" + uuid.uuid4().hex
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def probe():
        import importlib
        import zipimport

        mod = importlib.import_module(name)
        return mod.VALUE, type(mod.__loader__) is zipimport.zipimporter

    assert _in_task(spark, probe) == (42, True)


def test_udf_error_reaches_the_driver(spark):
    marker = "worker-daemon-probe-" + uuid.uuid4().hex

    def boom(batches):
        for _ in batches:
            raise ValueError(marker)
        yield from ()

    with pytest.raises(Exception, match=marker):
        spark.range(1).mapInArrow(boom, "id long").collect()
    assert _in_task(spark, lambda: 7) == 7  # the session's workers still serve
