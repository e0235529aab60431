"""The Python worker start-up hook (``vendor/pythonpath/sitecustomize.py``).

Spark calls ``importlib.invalidate_caches()`` once per Python task. On
Python 3.10/3.11 every ``zipimporter`` then re-parses its archive's
central directory; the hook makes that re-read happen only when the
archive changed. The first test checks those semantics on a temp zip
without Spark; the second checks that real workers run the hook.
"""

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

HOOK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "python_plugins_spark",
    "vendor",
    "pythonpath",
    "sitecustomize.py",
)


def _load_hook():
    # Loaded under another name, the module installs nothing by itself.
    spec = importlib.util.spec_from_file_location("worker_sitecustomize", HOOK)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)


@pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 12),
    reason="zipimporter.invalidate_caches re-reads eagerly only on 3.10 and 3.11",
)
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    _load_hook().stamp_zip_directories(zipimport)

    archive = str(tmp_path / "mods.zip")
    _write_zip(
        archive,
        {
            "zhook_a.py": "VALUE = 1\n",
            "zhook_pkg/__init__.py": "",
            "zhook_pkg/sub.py": "X = 1\n",
        },
    )
    monkeypatch.syspath_prepend(archive)
    names = ("zhook_a", "zhook_b", "zhook_pkg", "zhook_pkg.sub")
    reads = []
    stamped = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stamped(a)
    )
    try:
        assert importlib.import_module("zhook_a").VALUE == 1
        importlib.import_module("zhook_pkg.sub")
        importers = [
            v
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter) and v.archive == archive
        ]
        assert len(importers) == 2  # the archive root and zhook_pkg/
        assert reads == [archive]

        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [archive], "unchanged archive re-read"

        _write_zip(archive, {"zhook_a.py": "VALUE = 2\n", "zhook_b.py": "B = 1\n"})
        importlib.invalidate_caches()
        assert reads == [archive, archive], "both importers share one read"
        assert importlib.import_module("zhook_b").B == 1
        sys.modules.pop("zhook_a")
        assert importlib.import_module("zhook_a").VALUE == 2
    finally:
        for name in names:
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_run_the_hook(spark):
    """A one-task job reports from the worker that the hook is
    installed and that ``importlib.invalidate_caches()`` is cheap (the
    best of three calls, so one descheduling on a busy host does not
    count; without the hook every call re-parses the archives)."""

    def probe(_):
        import importlib
        import sys
        import time
        import zipimport

        seconds = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            seconds.append(time.perf_counter() - t0)
        yield sys.version_info[:2], zipimport.zipimporter.invalidate_caches.__module__, min(seconds)

    [(version, owner, seconds)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    if (3, 10) <= tuple(version) < (3, 12):
        assert owner == "sitecustomize"
    assert seconds < 0.010
