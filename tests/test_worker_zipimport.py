"""Stat-checked zip-archive invalidation (``openccnet_spark.zipcache``).

The hermetic tests need no Spark: a zip in ``tmp_path`` on ``sys.path``, an
import from it, ``zipimport._read_directory`` counted. The Spark tests run
in the shared session's Python workers, where pyspark re-reads every zip
importer's archive at the start of each task unless the hook is in place.
"""

from __future__ import annotations

import importlib
import io
import os
import pickle
import subprocess
import sys
import uuid
import zipfile
import zipimport
from types import SimpleNamespace

import pandas as pd
import pytest

from openccnet_spark import zipcache

eager_stdlib = pytest.mark.skipif(
    not zipcache._reads_eagerly(), reason="this stdlib already invalidates zip archives lazily"
)


def _write_zip(path, modules: dict) -> None:
    """``modules``: dotted name -> VALUE; a package gets an ``__init__``."""
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            parts = name.split(".")
            for i in range(1, len(parts)):
                init = "/".join(parts[:i]) + "/__init__.py"
                if init not in z.namelist():
                    z.writestr(init, "")
            z.writestr("/".join(parts) + ".py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zc_probe_a`` and ``zc_probe_pkg.sub``.
    Teardown restores the stdlib method, the baselines, ``sys.path`` and the
    import caches."""
    path = tmp_path / "zc_probe.zip"
    _write_zip(path, {"zc_probe_a": 1, "zc_probe_pkg.sub": 2})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipcache, "_read_at", {})
    monkeypatch.syspath_prepend(str(path))
    yield str(path)
    for name in [m for m in sys.modules if m.startswith("zc_probe_")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(path), None)


def _count_reads(monkeypatch) -> list:
    reads: list = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _importers(path: str) -> list:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == path
    ]


@eager_stdlib
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zc_probe_a").VALUE == 1
    assert importlib.import_module("zc_probe_pkg.sub").VALUE == 2
    assert len(_importers(archive)) == 2  # the archive root and the package
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # the stdlib: one re-read per importer

    assert zipcache.install()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert all(f._files is zipimport._zip_directory_cache[archive] for f in _importers(archive))
    del sys.modules["zc_probe_a"]
    assert importlib.import_module("zc_probe_a").VALUE == 1


@eager_stdlib
def test_rewritten_archive_is_reread_once_and_new_module_imports(archive, monkeypatch):
    importlib.import_module("zc_probe_pkg.sub")
    assert zipcache.install()
    reads = _count_reads(monkeypatch)
    _write_zip(archive, {"zc_probe_a": 1, "zc_probe_pkg.sub": 2, "zc_probe_pkg.new": 3, "zc_probe_b": 4})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # once for both importers over it
    assert importlib.import_module("zc_probe_b").VALUE == 4
    assert importlib.import_module("zc_probe_pkg.new").VALUE == 3
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


@eager_stdlib
def test_deleted_archive_is_dropped_like_the_stdlib(archive, monkeypatch):
    importlib.import_module("zc_probe_pkg.sub")
    finders = _importers(archive)
    assert zipcache.install()
    os.remove(archive)
    importlib.invalidate_caches()
    # the stdlib's answer to a vanished archive: no cache entry, no files
    assert archive not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in finders)
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_probe_b")
    # an archive that comes back is read again
    _write_zip(archive, {"zc_probe_b": 5})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_probe_b").VALUE == 5


@eager_stdlib
def test_install_twice_does_not_wrap_twice(archive, monkeypatch):
    importlib.import_module("zc_probe_a")
    stdlib = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() and zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    assert zipcache._stdlib_invalidate is stdlib
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_lazy_stdlib_gets_no_hook(monkeypatch):
    """The gate asks the stdlib method what it does: one that only drops
    the cache entry (CPython gh-103200) is left alone."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)

    def lazy(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipcache, "_stdlib_invalidate", lazy)
    assert not zipcache._reads_eagerly()
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original


@eager_stdlib
def test_installs_only_on_a_worker(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(zipcache, "_read_at", {})
    monkeypatch.delitem(sys.modules, "pyspark.core.files", raising=False)
    assert not zipcache.install_on_worker()
    files = SimpleNamespace(SparkFiles=SimpleNamespace(_is_running_on_worker=False))
    monkeypatch.setitem(sys.modules, "pyspark.core.files", files)
    assert not zipcache.install_on_worker()  # the driver
    assert zipimport.zipimporter.invalidate_caches is original
    files.SparkFiles._is_running_on_worker = True
    assert zipcache.install_on_worker()
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches


def test_cli_import_loads_no_pyspark_and_patches_nothing():
    code = (
        "import sys, zipimport, openccnet_spark.cli;"
        "print(*[m in sys.modules for m in ('pyspark', 'numpy', 'pandas')],"
        " zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["False", "False", "False", "zipimport"]


def _one_row_per_task(spark, n: int = 4):
    return spark.range(n, numPartitions=n).selectExpr("cast(id as string) AS t")


def test_later_task_invalidation_is_cheap(spark):
    """After a first engine job, a later task's ``invalidate_caches()``
    re-reads no archive: well under the ~0.2 s the stdlib spends on the
    workers' pyspark.zip importers."""
    from openccnet_spark.functions import convert_udf

    df = _one_row_per_task(spark)
    assert len(df.select(convert_udf("s2t")("t")).collect()) == 4
    zc = zipcache

    def timed(batches):
        import time

        for _ in batches:
            pass
        costs = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            costs.append(time.perf_counter() - t0)
        yield pd.DataFrame(
            {
                "hooked": [zipimport.zipimporter.invalidate_caches is zc._invalidate_caches],
                "zip_importers": [
                    sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "cost_s": [min(costs)],
            }
        )

    rows = df.mapInPandas(timed, "hooked boolean, zip_importers int, cost_s double").collect()
    assert len(rows) == 4
    assert all(r.hooked for r in rows) == zipcache._reads_eagerly()
    assert all(r.zip_importers > 0 for r in rows)  # the workers do import from zips
    assert max(r.cost_s for r in rows) < 0.020, rows


def test_add_py_file_mid_session_imports(spark, tmp_path):
    """A zip that ``addPyFile`` adds mid-session imports in the workers, and
    so does a module added when that archive is rewritten on disk."""
    from openccnet_spark.functions import convert_udf

    df = _one_row_per_task(spark)
    df.select(convert_udf("s2t")("t")).collect()  # workers hold the engine
    name = f"zc_mid_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {f"{name}_a": 1})
    spark.sparkContext.addPyFile(str(path))

    def probe(module):
        def run(batches):
            for _ in batches:
                pass
            mod = importlib.import_module(module)
            yield pd.DataFrame({"value": [mod.VALUE], "archive": [os.path.dirname(mod.__file__)]})

        return df.mapInPandas(run, "value long, archive string").collect()

    rows = probe(f"{name}_a")
    assert {r.value for r in rows} == {1}
    # rewrite the archive the workers imported from, adding a module
    for archive in {r.archive for r in rows}:
        _write_zip(archive, {f"{name}_a": 1, f"{name}_b": 2})
    assert {r.value for r in probe(f"{name}_b")} == {2}


class _Stage(Exception):
    """Carries the function a Python stage was built with."""


def _imports_package(fn) -> bool:
    """Does unpickling ``fn`` the way a worker does import the package?"""
    from pyspark import cloudpickle

    mods: set = set()

    class Watch(pickle.Unpickler):
        def find_class(self, module, name):
            mods.add(module)
            found = super().find_class(module, name)
            if name == "subimport":
                return lambda m: mods.add(m) or found(m)
            if name == "_from_id":  # a broadcast resolves only on a worker
                return lambda bid: None
            return found

    Watch(io.BytesIO(cloudpickle.dumps(fn))).load()
    return any(m.split(".")[0] == "openccnet_spark" for m in mods)


def test_every_python_stage_imports_the_package(spark, tmp_path, monkeypatch):
    """The hook installs when a worker imports the package, and a worker
    imports it only when the stage's pickled function references the
    package; a closure over numpy and pandas alone would leave it out."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.group import GroupedData

    from openccnet_spark.functions import convert_udf, pipeline_struct_udf, st_udf
    from openccnet_spark.operators.bloom import bloom_build, bloom_tag
    from openccnet_spark.operators.dedup import (
        _signatures_with_shingles,
        minhash_signatures,
        simhash_signatures,
    )
    from openccnet_spark.operators.repetition import repetition_signals
    from openccnet_spark.sources.textfiles import read_text_files
    from openccnet_spark.streaming import streaming_conversation_state

    def capture(self, fn, *args, **kwargs):
        raise _Stage(fn)

    monkeypatch.setattr(DataFrame, "mapInPandas", capture)
    monkeypatch.setattr(GroupedData, "applyInPandasWithState", capture)

    def built(build):
        def get():
            with pytest.raises(_Stage) as stage:
                build()
            return stage.value.args[0]

        return get

    docs = spark.createDataFrame(
        [(1, "a b c d", 7, "c1", True, None)],
        "doc_id long, text string, h long, conv_id string, keep boolean, ts timestamp",
    )
    (tmp_path / "a.txt").write_text("x\ny\n")
    stages = {
        "pipeline_struct_udf": lambda: pipeline_struct_udf().func,
        "convert_udf": lambda: convert_udf().func,
        "st_udf": lambda: st_udf().func,
        "bloom_build": built(lambda: bloom_build(docs, m_bits=1024)),
        "bloom_tag": built(lambda: bloom_tag(docs, bytes(128), 1024)),
        "minhash_signatures": built(lambda: minhash_signatures(docs)),
        "_signatures_with_shingles": built(lambda: _signatures_with_shingles(docs)),
        "simhash_signatures": built(lambda: simhash_signatures(docs)),
        "repetition_signals": built(lambda: repetition_signals(docs)),
        "read_text_files": built(lambda: read_text_files(spark, str(tmp_path / "*.txt"))),
        "streaming_conversation_state": built(lambda: streaming_conversation_state(docs)),
    }
    assert [name for name, get in stages.items() if not _imports_package(get())] == []

