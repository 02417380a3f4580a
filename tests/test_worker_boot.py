"""Python-worker bootstrap (``_worker_boot``): zip importers re-read an
archive at task start only when it changed, and only in a worker."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from conftest import series_df
from time_series_data_anomaly_detection_spark import _worker_boot


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ zipimport invalidates lazily; the hook is not installed",
)
def test_hook_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    monkeypatch.syspath_prepend(archive)
    # restore the class method and these modules after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    for name in ("a", "b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    import a

    assert a.NAME == "a"
    assert not _worker_boot.active()
    _worker_boot._patch()
    assert _worker_boot.active()

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["a", "b"])
    importlib.invalidate_caches()
    assert reads == [archive]
    import b

    assert b.NAME == "b"
    # the re-read refreshed the stamp
    importlib.invalidate_caches()
    assert reads == [archive]

    # a failed stat falls back to the original method, which re-reads
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert reads == [archive, archive]


def test_hook_active_in_worker_not_driver(spark):
    from time_series_data_anomaly_detection_spark.functions.kalman import (
        kalman_local_level,
    )

    out = kalman_local_level(series_df(spark, [1.0, 2.0, 3.0, 2.0] * 10))
    assert out.count() == 40

    def report(batches):
        import pandas as pd

        # what unpickling any package UDF does: import the package
        from time_series_data_anomaly_detection_spark import _worker_boot

        for _ in batches:
            pass
        yield pd.DataFrame({"active": [_worker_boot.active()]})

    got = spark.range(0, 4, 1, 4).mapInPandas(report, "active boolean").collect()
    expected = sys.version_info < (3, 13)
    assert [r.active for r in got] == [expected] * 4
    assert not _worker_boot.active()
