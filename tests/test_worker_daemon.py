"""The engine's Python worker daemon: a zip archive's central directory is
re-read only when the archive changed, and every worker Spark forks (Arrow
UDF and Python-RDD pools alike) carries the guard."""

import zipfile
import zipimport

from tmframe_spark.worker_daemon import stat_guarded


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", "X = 1\n")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["tm_guard_a"])
    imp = zipimport.zipimporter(path)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    guard = stat_guarded(zipimport.zipimporter.invalidate_caches)

    guard(imp)
    guard(imp)
    assert reads == [path]  # the first call reads, an unchanged archive does not

    _write_zip(path, ["tm_guard_a", "tm_guard_b"])
    guard(imp)
    assert reads == [path, path]
    assert imp.find_spec("tm_guard_b") is not None


def test_every_python_worker_runs_the_guard(spark):
    """One mapInPandas task and one Python-RDD task both see the guard as
    their ``zipimporter.invalidate_caches``."""
    want = stat_guarded(None).__qualname__

    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"q": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    udf = spark.range(1, numPartitions=1).mapInPandas(report, "q string").collect()
    rdd = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("zipimport").zipimporter.invalidate_caches.__qualname__)
        .collect()
    )
    assert [r["q"] for r in udf] == [want]
    assert rdd == [want]
