"""The zipimporter re-read guard installed by ``import geowave_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; before Python 3.13 each ``zipimporter`` then re-reads its archive's
whole directory.  The guard skips the re-read while the archive's stat
stamp is unchanged, and still re-reads a rewritten archive.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

import geowave_spark
from geowave_spark.sources.statistics import _bloom_bits

pre313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python >= 3.13 zipimport only drops its cache"
)


def _write_zip(path: str, pkg: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package importable from a fresh zip; yields (archive, package
    name, list of archives whose directory was read)."""
    pkg = f"gw_zipprobe_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, pkg, {"mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.mod_a").VALUE == 1
    importlib.invalidate_caches()  # each importer's first call reads and stamps
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, pkg, reads
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    geowave_spark._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is guarded


@pre313
def test_unchanged_archive_is_not_reread(zipped_pkg):
    archive, _pkg, reads = zipped_pkg
    for _ in range(5):
        importlib.invalidate_caches()
    assert [p for p in reads if p == archive] == []


def test_rewritten_archive_is_reread(zipped_pkg):
    archive, pkg, reads = zipped_pkg
    _write_zip(archive, pkg, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.mod_b").VALUE == 2
    if sys.version_info < (3, 13):
        assert archive in reads


def test_guard_reaches_every_python_worker(spark):
    """An engine UDF unpickles on each worker, which imports the package
    and installs the guard; a second invalidate_caches() there then
    re-reads no archive."""

    def probe(batches):
        import importlib as il
        import sys as _sys
        import zipimport as zi

        _bloom_bits(pd.Series(["x"]).to_numpy(dtype=object))  # engine code
        reads = []
        real = zi._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            reads.clear()
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        for b in batches:
            yield pd.DataFrame(
                {
                    "part": b["id"],
                    "pre313": _sys.version_info < (3, 13),
                    "guarded": bool(getattr(zi.zipimporter.invalidate_caches, "skips_unchanged", False)),
                    "rereads": len(reads),
                }
            )

    rows = (
        spark.range(8)
        .repartition(8)
        .mapInPandas(probe, "part long, pre313 boolean, guarded boolean, rereads long")
        .collect()
    )
    assert sorted(r["part"] for r in rows) == list(range(8))
    for r in rows:
        if r["pre313"]:
            assert r["guarded"], r
        assert r["rereads"] == 0, r
