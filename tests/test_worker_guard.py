"""The zip-importer guard amp installs on import (amp/__init__.py): an
unchanged archive on sys.path is not re-read by
``importlib.invalidate_caches()``, a changed one is, and every Python
worker that ran amp code keeps the guard for its later tasks."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with two importers on sys.path (its root and a prefix
    inside it), both holding its directory, and a counter of its
    central-directory reads from then on."""
    import amp  # noqa: F401  (installs the guard)

    path = tmp_path / "guarded_mods.zip"
    _write_zip(path, {"zg_one.py": "X = 1\n", "sub/zg_sub.py": "Y = 2\n"})
    monkeypatch.syspath_prepend(str(path / "sub"))
    monkeypatch.syspath_prepend(str(path))
    for mod in ("zg_one", "zg_sub", "zg_two"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zg_one").X == 1
    assert importlib.import_module("zg_sub").Y == 2

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # each importer stamps its first read
    assert reads.count(str(path)) == 2
    del reads[:]
    return path, reads


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(path)) == (0 if GUARDED else 4)

    import amp

    guard = zipimport.zipimporter.invalidate_caches
    amp._guard_zip_cache_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guard, "installed twice"
    assert getattr(guard, "amp_guarded", False) == GUARDED


def test_rewritten_archive_is_reread(archive):
    """Both importers re-read a rewritten archive, and the module it
    gained imports."""
    path, reads = archive
    _write_zip(path, {"zg_one.py": "X = 1\n", "sub/zg_sub.py": "Y = 2\n",
                      "zg_two.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(str(path)) == 2
    assert importlib.import_module("zg_two").Z == 3


def test_reused_workers_keep_the_guard(spark):
    """After an amp kernel has run, a probe that names no amp code finds
    the guard in every reused worker that holds amp, so that worker's
    later tasks skip the re-reads."""
    from amp.datagen import gen_files
    from amp.normalize import normalize

    parts = spark.sparkContext.defaultParallelism
    normalize(gen_files(spark, 4 * parts, partitions=parts)).count()

    def probe(batches):
        # names no amp code, so it imports no amp module itself
        import sys
        import zipimport

        import pandas as pd

        guarded = getattr(zipimport.zipimporter.invalidate_caches, "amp_guarded", False)
        for b in batches:
            yield pd.DataFrame({
                "amp_loaded": ["amp" in sys.modules] * len(b),
                "guarded": [guarded] * len(b),
            })

    rows = (
        spark.range(0, parts, numPartitions=parts)
        .mapInPandas(probe, "amp_loaded boolean, guarded boolean")
        .collect()
    )
    reused = [r for r in rows if r["amp_loaded"]]
    assert reused, "no probe task ran in a worker that had run amp code"
    assert all(r["guarded"] == GUARDED for r in reused), rows
