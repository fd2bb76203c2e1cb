"""The engine's Python workers: started by ``worker_daemon``, whose zip
importers keep their directory across tasks, while ``addPyFile`` still
reaches a running worker."""

from __future__ import annotations

import uuid
import zipfile

import pyarrow as pa


def _one_row(spark, fn, schema: str) -> dict:
    def run(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([fn()])

    return spark.range(1, numPartitions=1).mapInArrow(run, schema).collect()[0].asDict()


def _probe() -> dict:
    import importlib
    import sys
    import zipimport

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    return {"main": sys.modules["__main__"].__spec__.name, "zips": zips, "rereads": len(reads)}


def test_workers_keep_zip_directories(spark):
    got = _one_row(spark, _probe, "main string, zips long, rereads long")
    assert got["main"] == "zipline_chronon_spark.worker_daemon"
    assert got["zips"] >= 1
    assert got["rereads"] == 0


def test_add_py_file_reaches_running_workers(spark, tmp_path):
    _one_row(spark, lambda: {"x": 1}, "x long")  # workers are up before the files exist
    tag = uuid.uuid4().hex
    zmod, pmod = f"zcs_zip_{tag}", f"zcs_py_{tag}"
    zpath, ppath = tmp_path / f"{zmod}.zip", tmp_path / f"{pmod}.py"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{zmod}.py", f"VALUE = 'zip-{tag}'\n")
    ppath.write_text(f"VALUE = 'py-{tag}'\n")
    spark.sparkContext.addPyFile(str(zpath))
    spark.sparkContext.addPyFile(str(ppath))

    def values():
        import importlib

        return {"z": importlib.import_module(zmod).VALUE, "p": importlib.import_module(pmod).VALUE}

    assert _one_row(spark, values, "z string, p string") == {"z": f"zip-{tag}", "p": f"py-{tag}"}
