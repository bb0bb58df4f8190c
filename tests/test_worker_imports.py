"""Spark's zip import finders are evicted by every sketchlib task function.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task, and on CPython 3.10-3.12 each ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its whole archive directory. These
tests pin which finders ``sketchlib._worker.drop_spark_zip_finders`` removes:
all of Spark's own archives inside a real worker, and no other archive's.
They assert no timings."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from sketchlib import _worker


def test_worker_holds_no_spark_zip_finders_after_a_sketchlib_task(spark):
    def run(batches):
        import importlib.util
        import os
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        from sketchlib import agg
        from sketchlib.config import HLLConfig

        def spark_finders():
            """(finders of pyspark's archive, finders of any archive inside
            the Spark installation)."""
            own = getattr(pyspark.__loader__, "archive", None)
            home = os.path.realpath(os.environ.get("SPARK_HOME") or "/nonexistent")
            zips = [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
            return (sum(f.archive == own for f in zips),
                    sum(os.path.realpath(f.archive).startswith(home + os.sep) or f.archive == own
                        for f in zips))

        # lookups that miss make finders for every archive on sys.path and
        # for pyspark.sql's directory, whatever earlier tasks of this
        # (reused) worker left in the cache
        importlib.util.find_spec("_sk_absent_module")
        importlib.util.find_spec("pyspark.sql._sk_absent_module")
        before = spark_finders()
        builder = agg._build_partials_fn([agg.SketchSpec("h", HLLConfig(p=10), "id")], None)
        partials = pa.Table.from_batches(list(builder(batches)))
        merged = agg._merge_blob_rows(partials)
        after = spark_finders()
        yield pa.RecordBatch.from_pydict({
            "file": [pyspark.__file__],
            "zipped": [isinstance(pyspark.__loader__, zipimport.zipimporter)],
            "before": [before[0]],
            "own_after": [after[0]],
            "spark_after": [after[1]],
            "rows": [merged.column("rows")[0].as_py()],
        })

    df = spark.range(0, 4000, numPartitions=4)
    schema = "file string, zipped boolean, before long, own_after long, spark_after long, rows long"
    rows = df.mapInArrow(run, schema).collect()
    if not all(r["zipped"] for r in rows):
        pytest.skip(f"workers import pyspark from {rows[0]['file']}, not from a zip")
    assert len(rows) == 4
    assert sum(r["rows"] for r in rows) == 4000
    # every worker held finders of pyspark's archive; none may survive
    assert all(r["before"] > 0 for r in rows)
    assert [r["own_after"] for r in rows] == [0] * 4
    assert [r["spark_after"] for r in rows] == [0] * 4


def _zip_package(path, name: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "VALUE = 1\n")
        zf.writestr(f"{name}/sub.py", "VALUE = 2\n")


def _finders_of(archive: str) -> list[str]:
    return [k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive]


@pytest.fixture
def zipped_packages(tmp_path, monkeypatch):
    """Import one package from a user zip and one from a zip standing in for
    pyspark's archive; yields the two archive paths."""
    names = ("_sk_user_pkg", "_sk_spark_pkg")
    user_zip, spark_zip = str(tmp_path / "user.zip"), str(tmp_path / "spark.zip")
    _zip_package(user_zip, names[0])
    _zip_package(spark_zip, names[1])
    monkeypatch.syspath_prepend(user_zip)
    monkeypatch.syspath_prepend(spark_zip)
    for name in names:
        importlib.import_module(f"{name}.sub")
    yield user_zip, spark_zip
    for name in names:
        sys.modules.pop(f"{name}.sub", None)
        sys.modules.pop(name, None)
    for archive in (user_zip, spark_zip):
        for key in _finders_of(archive):
            del sys.path_importer_cache[key]


def test_user_zip_finder_survives_on_the_driver(zipped_packages):
    user_zip, _ = zipped_packages
    kept = _finders_of(user_zip)
    assert kept
    _worker.drop_spark_zip_finders()
    assert _finders_of(user_zip) == kept


def test_only_spark_archive_finders_are_evicted(zipped_packages, tmp_path, monkeypatch):
    user_zip, spark_zip = zipped_packages
    # a jar of the Spark installation, importable like any zip
    home = tmp_path / "spark_home"
    (home / "jars").mkdir(parents=True)
    jar = str(home / "jars" / "spark-core.jar")
    _zip_package(jar, "_sk_jar_pkg")
    monkeypatch.syspath_prepend(jar)
    importlib.import_module("_sk_jar_pkg")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setattr(_worker, "_archive_of",
                        lambda name: spark_zip if name == "pyspark" else None)
    kept = _finders_of(user_zip)
    assert _finders_of(spark_zip) and _finders_of(jar) and kept

    _worker.drop_spark_zip_finders()
    assert _finders_of(spark_zip) == [] and _finders_of(jar) == []
    assert _finders_of(user_zip) == kept
    # a later first-time import from an evicted archive still works
    sys.modules.pop("_sk_spark_pkg.sub")
    assert importlib.import_module("_sk_spark_pkg.sub").VALUE == 2
    sys.modules.pop("_sk_jar_pkg", None)
    for key in _finders_of(jar):
        del sys.path_importer_cache[key]
