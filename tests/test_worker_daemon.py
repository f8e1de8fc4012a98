"""The local-mode Python worker daemon: Spark starts it, its archive
gate re-reads a zip only when the zip changed, and importing it
changes nothing."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from vector_databases___hydrate_chroma_db_collection_spark import worker_daemon


def test_local_workers_run_the_engine_daemon(spark):
    import pyarrow as pa

    def report(batches):
        import zipimport

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    got = spark.range(1).mapInArrow(report, "m string").collect()
    assert [r.m for r in got] == [worker_daemon.__name__]


def test_import_leaves_zipimporter_unchanged():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._stock_invalidate
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("gated_mod.py", body)


def _fresh_import(importer, name: str):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="from 3.13 zipimporter.invalidate_caches drops the cache, it re-reads nothing",
)
def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, "X = 1\n")
    imp = zipimport.zipimporter(str(archive))
    stock_read = zipimport._read_directory
    reads = []
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stock_read(a)
    )

    worker_daemon.invalidate_caches(imp)  # learns the archive's key
    assert len(reads) == 1
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 1  # unchanged: not re-read

    _write_zip(archive, "X = 2  # a body of another length\n")
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 2  # rewritten: re-read once
    assert _fresh_import(imp, "gated_mod").X == 2

    # removed: the gate re-reads on every call and ends where the
    # stock method ends, with no files and nothing to import
    stock = zipimport.zipimporter(str(archive))
    archive.unlink()
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 4
    worker_daemon._stock_invalidate(stock)
    assert imp._files == stock._files == {}
    assert imp.find_spec("gated_mod") is None


def test_daemon_only_where_local_workers_import_the_package(tmp_path, monkeypatch):
    from vector_databases___hydrate_chroma_db_collection_spark import session

    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(repo)
    assert session._local_workers_import_package("local[4]")
    assert session._local_workers_import_package("local")
    assert not session._local_workers_import_package("spark://host:7077")
    assert not session._local_workers_import_package("yarn")
    # started elsewhere, the workers could not import the package: keep
    # the stock daemon, whose tasks need no engine module
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._local_workers_import_package("local[4]")
    monkeypatch.setenv("PYTHONPATH", repo)
    assert session._local_workers_import_package("local[4]")
