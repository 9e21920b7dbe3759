"""The worker daemon's zip-directory guard: unchanged archives are not
re-read, a rewritten one is, and Spark's Python workers run under it."""

import importlib
import sys
import zipfile
import zipimport

from name_matching_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch, request):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"nms_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("nms_zip_a", "nms_zip_b"):
        request.addfinalizer(lambda name=name: sys.modules.pop(name, None))
    import nms_zip_a

    assert nms_zip_a.X == 1
    original = zipimport.zipimporter.invalidate_caches
    request.addfinalizer(
        lambda: setattr(zipimport.zipimporter, "invalidate_caches", original)
    )
    worker_daemon.install()

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    importlib.invalidate_caches()  # the first call records the stamp
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    # rewritten in place (same inode), with a module the old directory lacks
    _write_zip(archive, {"nms_zip_a": "X = 1\n", "nms_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    import nms_zip_b

    assert nms_zip_b.Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_spark_workers_run_the_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        guard = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"module": [guard.__module__]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "module string")
        .collect()
    )
    assert [r.module for r in rows] == [worker_daemon.__name__]
