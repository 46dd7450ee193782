"""deploy.py: the stat-gated zipimport cache invalidation and ship()'s
temp-dir placement."""

from __future__ import annotations

import importlib.util
import os
import tempfile
import zipfile
import zipimport

import pytest

from gobulk_spark import deploy


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Count the archive-directory reads zipimport makes."""
    calls: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_importing_the_package_installs_the_gate():
    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # first call: no stamp yet, reads
    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []
    assert imp.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, reads):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    assert imp.find_spec("mod_new") is None
    size = os.stat(path).st_size
    _write_zip(path, {"mod_a": "X = 1\n", "mod_new": "Y = 42\n"})
    assert os.stat(path).st_size != size
    reads.clear()
    imp.invalidate_caches()
    assert reads == [path]
    spec = imp.find_spec("mod_new")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 42


def test_missing_archive_empties_the_table(tmp_path, reads):
    path = str(tmp_path / "c.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()
    assert imp.find_spec("mod_a") is None


def test_second_install_does_not_wrap_twice():
    gated = zipimport.zipimporter.invalidate_caches
    deploy.gate_zip_invalidation()
    deploy.gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_worker_does_not_reread_archives_after_a_package_udf(spark):
    """A worker that has run a gobulk_spark UDF (so imported the
    package) rebuilds no zipimporter file table when a later task calls
    importlib.invalidate_caches() — which Spark's worker does at the
    start of every Python task."""
    import pandas as pd

    from gobulk_spark.functions import hashing

    def package_udf(batches):
        for pdf in batches:
            yield pdf.assign(h=hashing.crc_bucket_unique(pdf["id"].astype(str), 64))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        imps = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        tables = [f._files for f in imps]
        importlib.invalidate_caches()
        rebuilt = sum(f._files is not t for f, t in zip(imps, tables))
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "warm": ["gobulk_spark" in sys.modules],
                "zips": [len(imps)],
                "rebuilt": [rebuilt],
            }
        )

    schema = "pid long, warm boolean, zips long, rebuilt long"
    reports = []
    for _ in range(4):
        spark.range(4, numPartitions=1).mapInPandas(
            package_udf, "id long, h long"
        ).collect()
        reports += [
            r.asDict()
            for r in spark.range(1, numPartitions=1)
            .mapInPandas(probe, schema)
            .collect()
        ]
    warm = [r for r in reports if r["warm"]]
    assert warm, f"no probe task ran in a worker that imported the package: {reports}"
    assert all(r["zips"] > 0 for r in warm), reports
    assert [r["rebuilt"] for r in warm] == [0] * len(warm), reports


class _FakeContext:
    applicationId = "deploy-test-tmpdir"
    listFiles: list[str] = []

    def __init__(self):
        self.added: list[str] = []

    def addPyFile(self, path):
        self.added.append(path)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_ship_writes_its_zip_under_the_temp_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(deploy, "_SHIPPED", set())
    session = _FakeSession()
    deploy.ship(session)
    (added,) = session.sparkContext.added
    assert os.path.dirname(added) == str(tmp_path / "gobulk_spark_pyfiles")
    assert os.path.exists(added)
    with zipfile.ZipFile(added) as z:
        assert "gobulk_spark/__init__.py" in z.namelist()
    deploy.ship(session)  # once per application
    assert len(session.sparkContext.added) == 1
