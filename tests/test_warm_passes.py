"""A warm pass must not redo cold-start work: the generated-class cache
holds a convert pass (no Janino recompiles), and Python task start does not
re-parse unchanged zip archive directories (``pydaemon``)."""
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sciencebeam_parser_spark import pydaemon
from sciencebeam_parser_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13"
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _linked_copy(src: str, dst) -> str:
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        os.link(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


def test_warm_convert_pass_compiles_no_classes(spark, tmp_path):
    # a fresh input dir per round, so the (session, input dir) memos miss
    # and the second round plans and runs the same work again
    counts = []
    for k in range(2):
        sf_dir = _linked_copy(SF_DIR, tmp_path / f"warm{k}")
        c0 = _compiles(spark)
        for q in ("q290_convert_pipeline", "q130_tei_structure_roundtrip"):
            assert REGISTRY[q].build(spark, sf_dir).collect()
        counts.append(_compiles(spark) - c0)
    assert counts[0] > 0
    assert counts[1] == 0, counts


@pytest.fixture
def engine_zipimport():
    saved = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    pydaemon.install()
    yield
    zipimport._read_directory, zipimport.zipimporter.invalidate_caches = saved


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = _write_zip(tmp_path / "mods.zip", {"sbp_zip_a": "X = 1\n"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in [n for n in sys.modules if n.startswith("sbp_zip_")]:
        del sys.modules[name]


@below_313
def test_unchanged_archive_is_not_reread(engine_zipimport, zip_on_path, monkeypatch):
    assert importlib.import_module("sbp_zip_a").X == 1
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
    )
    importlib.invalidate_caches()
    assert zip_on_path not in reads


@below_313
def test_changed_archive_is_reread(engine_zipimport, zip_on_path):
    assert importlib.import_module("sbp_zip_a").X == 1
    _write_zip(zip_on_path, {"sbp_zip_a": "X = 1\n", "sbp_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("sbp_zip_b").Y == 2


@below_313
def test_python_workers_run_the_engine_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(files) == 4
    assert {os.path.realpath(f) for f in files} == {os.path.realpath(pydaemon.__file__)}
