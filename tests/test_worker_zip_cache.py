"""lucene_spark.zipcache: ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed — in this process and in
the Python workers that ran an engine UDF (they import ``lucene_spark`` when
they unpickle it)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import lucene_spark  # installs the stat-checked invalidate_caches


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    calls = []
    orig = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "zc_pkg.zip")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in [m for m in sys.modules if m.startswith("zc_mod_")]:
        del sys.modules[name]


def _write(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in members.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(archive, reads):
    _write(archive, {"zc_mod_a": 1})
    assert importlib.import_module("zc_mod_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # an importer made after install() reads once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_changed_archive_is_reread(archive, reads):
    _write(archive, {"zc_mod_a": 1})
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    _write(archive, {"zc_mod_a": 1, "zc_mod_b": 2})
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zc_mod_b").VALUE == 2
    # same size and inode, new bytes: the mtime alone triggers the re-read
    st = os.stat(archive)
    with open(archive, "r+b") as f:
        data = f.read().replace(b"zc_mod_b", b"zc_mod_c")
        f.seek(0)
        f.write(data)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_c").VALUE == 2


def test_removed_archive_does_not_raise(archive):
    _write(archive, {"zc_mod_a": 1})
    importlib.import_module("zc_mod_a")
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")


def test_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    lucene_spark.zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is method


def test_worker_skips_rereads_after_an_engine_udf(spark):
    """PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task.  A reused worker whose earlier task ran an engine UDF must not
    re-read any archive directory there."""
    from lucene_spark.analysis import make_analyze_udf

    texts = spark.createDataFrame([(f"doc {i} words",) for i in range(64)],
                                  "text string").repartition(8)
    tokens = texts.select(make_analyze_udf()("text").alias("t")).collect()
    assert tokens[0]["t"][0] == "doc" and len(tokens) == 64

    def probe(batches):
        # nested, so cloudpickle ships it by value: it imports no engine code
        import importlib
        import sys
        import zipimport

        import pandas as pd

        engine_loaded = "lucene_spark" in sys.modules
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        calls = []
        orig = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({"engine_loaded": [engine_loaded],
                            "zips": [zips], "reads": [len(calls)]})

    rows = (spark.range(0, 8, 1, 8)
            .mapInPandas(probe, "engine_loaded boolean, zips long, reads long")
            .collect())
    warm = [r for r in rows if r["engine_loaded"]]
    assert warm, rows
    assert all(r["zips"] > 0 for r in warm), rows
    assert [r["reads"] for r in warm] == [0] * len(warm), rows
