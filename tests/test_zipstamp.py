"""zipstamp: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed (CPython < 3.12), and the patch
reaches the Spark Python workers that run engine UDFs.

Counts calls to ``zipimport._read_directory``; no timing asserts."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import Counter

import pytest

from gdelta_spark import zipstamp  # runs gdelta_spark/__init__.py, which installs it

OLD_PYTHON = sys.version_info < (3, 12)
needs_patch = pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.12 is lazy already")


@pytest.fixture
def reads(monkeypatch, archive):
    """Per-archive count of directory reads from here on (the imports that
    set up ``archive`` read it once), with the stamped method installed and
    no stamps carried over from other tests."""
    counts: Counter = Counter()
    real = zipimport._read_directory

    def counting(path):
        counts[path] += 1
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipstamp, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipstamp._invalidate_caches)
    return counts


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a module and a package, and the importers
    an import of both leaves in ``sys.path_importer_cache``."""
    tag = f"zs{os.getpid()}_{tmp_path.name}".replace("-", "_")
    path = str(tmp_path / "pkgs.zip")
    _write_zip(
        path,
        {
            f"{tag}_mod.py": "X = 1\n",
            f"{tag}_pkg/__init__.py": "",
            f"{tag}_pkg/sub.py": "Y = 2\n",
        },
    )
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{tag}_mod")
    importlib.import_module(f"{tag}_pkg.sub")
    yield path, tag
    for name in [m for m in sys.modules if m.startswith(tag)]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


@needs_patch
def test_unchanged_archive_read_once_across_importers(archive, reads):
    path, _ = archive
    importers = [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(v, zipimport.zipimporter)
    ]
    assert len(importers) >= 2  # the archive root and the package directory
    for imp in importers:
        imp.invalidate_caches()
    # the first importer re-reads (no stamp yet); the rest share its read
    assert reads[path] == 1
    for _ in range(3):
        importlib.invalidate_caches()
        for imp in importers:
            imp.invalidate_caches()
    assert reads[path] == 1
    files = zipimport._zip_directory_cache[path]
    assert all(imp._files is files for imp in importers)


@needs_patch
def test_rewritten_archive_is_reread(archive, reads):
    path, tag = archive
    importlib.invalidate_caches()
    assert reads[path] == 1
    before = os.stat(path)
    _write_zip(
        path,
        {
            f"{tag}_mod.py": "X = 1\n",
            f"{tag}_pkg/__init__.py": "",
            f"{tag}_pkg/sub.py": "Y = 2\n",
            f"{tag}_new.py": "Z = 3\n",
        },
    )
    # a new mtime even where the clock is coarser than the rewrite
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads[path] == 2
    assert importlib.import_module(f"{tag}_new").Z == 3
    importlib.invalidate_caches()
    assert reads[path] == 2


@needs_patch
def test_removed_archive_drops_its_files(archive, reads):
    path, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    imp = sys.path_importer_cache[path]
    imp.invalidate_caches()
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in zipstamp._stamps


def test_py312_leaves_stdlib_method(monkeypatch):
    stdlib = zipstamp._stdlib_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert zipstamp.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_package_import_installs_on_old_python():
    installed = zipimport.zipimporter.invalidate_caches is zipstamp._invalidate_caches
    assert installed is OLD_PYTHON


@needs_patch
def test_spark_worker_has_patch_after_engine_udf(spark, tmp_path):
    """A plain Python task on a worker that ran an engine UDF (the pyscan
    read) sees the stamped method, and its ``invalidate_caches`` reads no
    archive directory."""
    from gdelta_spark.pipeline.generator import write_tokens_table
    from gdelta_spark.pipeline.pyscan import scan_tokens_binary

    src = str(tmp_path / "tokens")
    write_tokens_table(spark, src, rows_per_regime=4, num_partitions=4)
    assert scan_tokens_binary(spark, src).count() > 0

    def report(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        loaded = "gdelta_spark" in s.modules
        patched = (
            loaded
            and zi.zipimporter.invalidate_caches
            is s.modules["gdelta_spark.zipstamp"]._invalidate_caches
        )
        n = [0]
        real = zi._read_directory

        def counting(path):
            n[0] += 1
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        yield pa.RecordBatch.from_pydict(
            {"loaded": [loaded], "patched": [patched], "reads": [n[0]]}
        )

    rows = (
        spark.range(32, numPartitions=32)
        .mapInArrow(report, "loaded boolean, patched boolean, reads long")
        .collect()
    )
    engine = [r for r in rows if r.loaded]
    assert engine, "no task landed on a worker that ran the engine UDF"
    assert all(r.patched for r in engine)
    # pyspark.zip and the py4j zip were stamped by this task's own start
    assert all(r.reads == 0 for r in engine)
