"""The zip-directory shim (alertsage_spark/_zipcache.py): an unchanged
archive is parsed once, a changed one is re-read, and reused Spark Python
workers stop re-parsing their zips from the third task on."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from alertsage_spark import _zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip caches invalidate lazily on 3.13+"
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@eager_only
def test_unchanged_archive_parsed_once_changed_archive_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        assert importlib.import_module("zc_mod_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, {"zc_mod_a.py": "VALUE = 1\n", "zc_mod_b.py": "VALUE = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zc_mod_b").VALUE == 2

        os.remove(archive)  # stat fails: behave like the original
        importlib.invalidate_caches()
        assert importer._files == {}
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def test_install_is_idempotent_and_noop_on_313(monkeypatch):
    def original(self):
        """Reload the file data of the archive path."""

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    _zipcache.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original and wrapped._skips_unchanged
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def _load_probe_script():
    spec = importlib.util.spec_from_file_location(
        "worker_overhead", os.path.join(REPO, "scripts", "worker_overhead.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@eager_only
def test_reused_workers_stop_rereading_zips_from_third_task(spark):
    probe = _load_probe_script()
    df = spark.range(1, numPartitions=1).mapInArrow(
        probe.make_probe(import_engine=True), probe.PROBE_SCHEMA
    )
    # idle workers are handed out in turn, so a session that already holds
    # many of them needs more jobs before one worker reaches its fourth task
    by_pid: dict[int, list] = {}
    for _ in range(128):
        (r,) = df.collect()
        by_pid.setdefault(r["pid"], []).append(r["reads"])
        if len(by_pid[r["pid"]]) >= 4:
            break
    assert max(len(v) for v in by_pid.values()) >= 4, by_pid
    for pid, reads in by_pid.items():
        # reads[i] counts through task i's start; task i >= 3 adds none
        assert reads[2:] == [reads[1]] * len(reads[2:]), (pid, reads)
