"""The worker daemon's zip-import guard (``mvtspark/daemon.py``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task;
the guard must skip re-reading an unchanged archive and still pick up a
rewritten one.
"""

import importlib
import os
import sys
import zipfile
import zipimport

from mvtspark import daemon


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"guarded_a.py": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("guarded_a", "guarded_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("guarded_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()  # first use: one read
        files = importer._files
        before = len(reads)
        for _ in range(5):
            importlib.invalidate_caches()
        assert len(reads) == before and importer._files is files

        # a rewritten archive (new size, mtime and inode) is read again,
        # and its new module imports
        os.remove(archive)
        _write_zip(archive, {"guarded_a.py": "X = 1\n", "guarded_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == before + 1 and importer._files is not files
        assert "guarded_b.py" in importer._files
        assert importlib.import_module("guarded_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_workers_run_the_guarded_daemon(spark):
    """A pandas UDF task runs in a worker forked from ``mvtspark.daemon``:
    its zipimporters carry the guarded ``invalidate_caches``, and the
    UDF's result is unchanged."""
    import pandas as pd
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.daemon.module") == "mvtspark.daemon"

    @F.pandas_udf("string")
    def guard_file(ids: pd.Series) -> pd.Series:
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return pd.Series([code.co_filename] * len(ids))

    @F.pandas_udf("long")
    def plus_one(ids: pd.Series) -> pd.Series:
        return ids + 1

    rows = (spark.range(0, 40, numPartitions=4)
            .select(plus_one("id").alias("v"), guard_file("id").alias("guard"))
            .collect())
    assert sorted(r.v for r in rows) == list(range(1, 41))
    guards = {r.guard for r in rows}
    assert len(guards) == 1
    assert guards.pop().endswith(os.path.join("mvtspark", "daemon.py"))
