"""The stat-gated ``zipimporter.invalidate_caches`` (``_zipcache``):
an unchanged archive is not re-read, a changed one is, and the gate is
in place inside reused Spark Python workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import alpaca_pyspark_spark  # noqa: F401  (installs the gate)

OLD_PYTHON = sys.version_info < (3, 12)


def _gated() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)


def test_gate_installed_only_before_312():
    assert _gated() == OLD_PYTHON


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.12 re-reads lazily")
def test_unchanged_archive_not_reread_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_pkg/__init__.py", "X = 1\n")
        z.writestr("zc_pkg/first.py", "Y = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        import zc_pkg.first  # noqa: F401  (two importers: archive and zc_pkg/)

        importlib.invalidate_caches()  # no stamp yet: one read, shared
        primed = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == primed  # unchanged: never re-read

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zc_pkg/__init__.py", "X = 1\n")
            z.writestr("zc_pkg/first.py", "Y = 1\n")
            z.writestr("zc_pkg/second.py", "Z = 2\n")
        importlib.invalidate_caches()
        assert len(reads) == primed + 1  # changed: re-read once for both
        from zc_pkg import second

        assert second.Z == 2
    finally:
        for name in ("zc_pkg", "zc_pkg.first", "zc_pkg.second"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.12 re-reads lazily")
def test_gate_reaches_reused_python_workers(spark):
    """Each task reports its worker pid and whether the gate was there
    before the task imported the engine.  Only a worker that ran engine
    code in an earlier call can have it that early (the daemon that
    forks workers never imports the engine), and a worker seen again
    must have it."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        before = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        import alpaca_pyspark_spark  # noqa: F401

        after = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "before": [before], "after": [after]}
        )

    seen, calls = set(), []
    # idle workers are reused first in, first out: a pid repeats after
    # at most one call per idle worker
    for _ in range(16):
        c = (
            spark.range(0, 1, 1, 1)
            .mapInArrow(probe, "pid long, before boolean, after boolean")
            .collect()[0]
        )
        calls.append(c)
        assert c.after, calls
        assert c.before or c.pid not in seen, calls
        seen.add(c.pid)
        if c.before:
            break
    assert calls[-1].before, calls
