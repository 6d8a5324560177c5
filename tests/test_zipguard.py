"""The stat-guarded ``zipimporter.invalidate_caches``: an unchanged archive
is not re-read, a rewritten one is, and the guard is installed in Python
workers but never on the driver."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from unraveldocs_spark import zipguard


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with one imported module, the guard in place,
    and a log of the archives ``zipimport._read_directory`` reads."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipguard.guarded_invalidate_caches,
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in ("zg_probe_a", "zg_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(guarded_zip):
    archive, reads = guarded_zip
    assert importlib.import_module("zg_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # first guarded call records the signature
    n = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_rewritten_archive_is_reread(guarded_zip):
    archive, reads = guarded_zip
    importlib.import_module("zg_probe_a")
    importlib.invalidate_caches()
    n = reads.count(archive)
    _write_zip(archive, {"zg_probe_a": "VALUE = 'a'\n",
                         "zg_probe_b": "VALUE = 'b, a longer module'\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert importlib.import_module("zg_probe_b").VALUE == "b, a longer module"


def test_install_outside_a_task_is_a_noop():
    original = zipimport.zipimporter.invalidate_caches
    zipguard.install_in_task()
    assert zipimport.zipimporter.invalidate_caches is original


def test_workers_guarded_driver_untouched(spark):
    """After a package stage runs, the workers report the guarded method;
    the driver keeps the original."""
    from unraveldocs_spark import generator as G
    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

    pdf = G.transcripts_pandas(4, median_turns=4, include_oversize=False)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    assert extract_stage(sdf.repartition(4)).count() == len(pdf)

    def probe(_):
        import zipimport

        # ``zipguard`` is pickled by reference, so unpickling this function
        # imports the package inside the task
        return [zipimport.zipimporter.invalidate_caches
                is zipguard.guarded_invalidate_caches]

    assert set(spark.sparkContext.parallelize(range(8), 8)
               .mapPartitions(probe).collect()) == {True}
    assert (zipimport.zipimporter.invalidate_caches
            is not zipguard.guarded_invalidate_caches)
