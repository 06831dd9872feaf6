"""The Python worker daemon: a zip archive's directory is read again only
when the archive changes, importing the module patches nothing, and the
test session's workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from candia_spark import worker_daemon

EAGER_REREAD = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="from 3.13 on invalidate_caches no longer re-reads eagerly",
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores the original
    method afterwards. Returns a list that grows by one per directory
    read."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.keep_unchanged_zip_directories()
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@EAGER_REREAD
def test_unchanged_zip_is_not_read_again(tmp_path, patched):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zd_first.py": "X = 1\n"})
    importers = [zipimport.zipimporter(str(archive)) for _ in range(3)]
    patched.clear()
    for _ in range(4):
        for imp in importers:
            imp.invalidate_caches()
    # the first call reads once (this process had no stat for it), then
    # no importer of the unchanged archive reads it again
    assert patched == [str(archive)]


@EAGER_REREAD
def test_rewritten_zip_is_read_again_and_imports(tmp_path, monkeypatch, patched):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zd_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    importlib.invalidate_caches()
    assert importlib.import_module("zd_first").X == 1
    importlib.invalidate_caches()  # this process has now read it once
    with pytest.raises(ImportError):
        importlib.import_module("zd_second")

    _write_zip(archive, {"zd_first.py": "X = 1\n", "zd_second.py": "Y = 2\n"})
    patched.clear()
    importlib.invalidate_caches()
    assert str(archive) in patched
    assert importlib.import_module("zd_second").Y == 2
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name)


def test_importing_the_module_patches_nothing():
    before = zipimport.zipimporter.invalidate_caches
    importlib.reload(worker_daemon)
    assert zipimport.zipimporter.invalidate_caches is before
    assert before.__module__ == "zipimport"


def test_session_workers_run_under_the_daemon(spark):
    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == "candia_spark.worker_daemon"

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            main = sys.modules["__main__"].__spec__
            yield pd.DataFrame(
                {
                    "daemon": [main.name if main else ""],
                    "patched": [
                        "keep_unchanged"
                        in zipimport.zipimporter.invalidate_caches.__qualname__
                    ],
                }
            )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "daemon string, patched boolean")
        .collect()
    )
    assert len(rows) == 4
    assert {r.daemon for r in rows} == {"candia_spark.worker_daemon"}
    assert all(r.patched for r in rows) == (sys.version_info < (3, 13))
