"""The engine's PySpark daemon entry (``cellphe_data_pipeline_spark.worker``):
zip directories are re-read only when the archive changed, and every
``get_spark`` session runs its Python tasks through that daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile

import pytest

from cellphe_data_pipeline_spark import worker


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a": "A = 1\n"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("zmod_a", "zmod_b", "zmod_c"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    import zmod_a

    assert zmod_a.A == 1
    importlib.invalidate_caches()  # stamps the archive (a read at most)
    before = worker.directory_reads
    for _ in range(3):
        importlib.invalidate_caches()
    assert worker.directory_reads == before
    # the cached directory still serves imports
    sys.modules.pop("zmod_a")
    assert importlib.import_module("zmod_a").A == 1


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(zip_on_path, change):
    """A rewrite that changes the archive's size, or only its mtime
    (same size, same inode), is re-read on the next
    ``invalidate_caches()``; a module added to it becomes importable."""
    import zmod_a  # noqa: F401

    importlib.invalidate_caches()
    before = worker.directory_reads
    if change == "size":
        _write_zip(zip_on_path, {"zmod_a": "A = 1\n", "zmod_b": "B = 2\n"})
    else:
        # same size and inode: rewrite in place with one module renamed
        # (same name and source lengths), then move the mtime on
        _write_zip(str(zip_on_path) + ".new", {"zmod_c": "C = 3\n"})
        with open(str(zip_on_path) + ".new", "rb") as fh:
            data = fh.read()
        st = os.stat(zip_on_path)
        assert len(data) == st.st_size
        with open(zip_on_path, "r+b") as fh:
            fh.write(data)
        os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        assert os.stat(zip_on_path).st_ino == st.st_ino
    importlib.invalidate_caches()
    assert worker.directory_reads > before
    if change == "size":
        assert importlib.import_module("zmod_b").B == 2
    else:
        assert importlib.import_module("zmod_c").C == 3
    # and the new stamp holds until the next change
    after = worker.directory_reads
    importlib.invalidate_caches()
    assert worker.directory_reads == after


def test_missing_archive_takes_the_stock_path(zip_on_path):
    import zmod_a  # noqa: F401

    importlib.invalidate_caches()
    before = worker.directory_reads
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # no error: the stock method runs
    assert worker.directory_reads > before
    sys.modules.pop("zmod_a")
    with pytest.raises(ImportError):
        importlib.import_module("zmod_a")


def _probe(spark, rows: int):
    """One row per task of a ``mapInPandas`` job over 4 partitions: the
    daemon's module name and the zip directory reads its worker process
    has made."""

    def probe(batches):
        import pandas as pd

        from cellphe_data_pipeline_spark import worker as engine_worker

        main = sys.modules["__main__"]
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "daemon": [getattr(getattr(main, "__spec__", None), "name", None)],
                "reads": [engine_worker.directory_reads],
            }
        )

    return spark.range(0, rows, 1, 4).mapInPandas(probe, "daemon string, reads long")


def test_get_spark_tasks_run_through_engine_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "cellphe_data_pipeline_spark.worker"
    rows = _probe(spark, 4).collect()
    assert len(rows) == 4
    assert {r["daemon"] for r in rows} == {"cellphe_data_pipeline_spark.worker"}


def test_warmed_worker_tasks_reread_no_zip_directory(spark):
    """After a warm-up job, the tasks of a second Python job (through
    ``setup_spark_files``' per-task ``invalidate_caches()``) re-read no
    zip directory: each worker process's read count stays zero."""
    probe = _probe(spark, 8)
    probe.collect()  # warm-up
    rows = probe.collect()
    assert len(rows) == 4
    assert {r["daemon"] for r in rows} == {"cellphe_data_pipeline_spark.worker"}
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]
